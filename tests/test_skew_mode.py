"""skew_mode='auto' resolution on small pyarrow-written layouts, listed
by the planner's one walk (`partition_stats`), and the chunk's SQL conf
— no Spark.

A chunk under 3·par·2 MB takes the rebalance shuffle whatever its row
groups look like; past that gate the mode and split bytes are the ones
the footer-only rule (reproduced below as the reference) gives. A
rebalanced chunk whose bytes fit in par advisory partitions lowers
AQE's minPartitionSize so its UDF stage runs on every core; every other
chunk keeps the advisory-only conf (reproduced below)."""

import logging
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from baselinr_spark.plans.pipeline import (
    _resolve_skew_mode,
    chunk_conf,
    split_partition_bytes,
)
from baselinr_spark.plans.planner import partition_stats

MB = 1 << 20


def _parquet_files(root, dts):
    return [os.path.join(root, f"dt={dt}", f) for dt in dts
            for f in sorted(os.listdir(os.path.join(root, f"dt={dt}")))
            if f.endswith(".parquet")]


def _footer_rule(root, dts, par):
    """The layout-only rule auto applied before the byte gate."""
    n_granules = max_granule = 0
    for path in _parquet_files(root, dts):
        rgs = max(pq.ParquetFile(path).metadata.num_row_groups, 1)
        n_granules += rgs
        max_granule = max(max_granule, os.path.getsize(path) // rgs)
    if n_granules >= 4 * par and max_granule <= 64 * MB:
        return "split"
    return "rebalance"


def _formula(nbytes, par):
    """The split-size formula split_partition_bytes must keep."""
    lo = max(256 << 10, min(4 << 20, nbytes // (3 * par)))
    return max(lo, min(128 << 20, nbytes // (12 * par)))


def _write_layout(root, dts, files_per_dt, file_bytes, row_groups):
    """Uncompressed random-bytes parquet files under root/dt=*/ with
    `row_groups` row groups each, so file size ≈ file_bytes."""
    rng = np.random.default_rng(7)
    rows_per_rg = 4
    cell = max(file_bytes // (row_groups * rows_per_rg), 1)
    for dt in dts:
        d = os.path.join(root, f"dt={dt}")
        os.makedirs(d, exist_ok=True)
        for i in range(files_per_dt):
            col = pa.array([rng.bytes(cell) for _ in range(row_groups * rows_per_rg)],
                           pa.binary())
            pq.write_table(pa.table({"text": col}),
                           os.path.join(d, f"part-{i:03d}.parquet"),
                           row_group_size=rows_per_rg, compression="none")
    return root


DTS = ["2024-01-01", "2024-01-02"]

#: the logger of the shared listing (sources/catalog.list_data_files)
LISTING_LOG = "baselinr_spark.sources.catalog"


def test_many_tiny_files_under_gate_rebalance(tmp_path):
    par = 2
    root = _write_layout(str(tmp_path), DTS, files_per_dt=20,
                         file_bytes=32 << 10, row_groups=1)
    layout = partition_stats(root, DTS)
    nbytes = sum(r["estimated_bytes"] for r in layout)
    assert sum(r["row_groups"] for r in layout) == 40
    assert all(r["listing_error"] == "" for r in layout)
    assert nbytes < 3 * par * 2 * MB
    # the footer rule alone would split: plenty of small row groups
    assert _footer_rule(root, DTS, par) == "split"
    mode, why = _resolve_skew_mode(layout, par)
    assert mode == "rebalance"
    assert "gate" in why


@pytest.fixture(scope="module")
def big_layout(tmp_path_factory):
    """≈ 13 MB over 4 files of 2 row groups: at least 3·par·4 MB for par=1."""
    root = str(tmp_path_factory.mktemp("big"))
    return _write_layout(root, DTS, files_per_dt=2, file_bytes=3_300_000,
                         row_groups=2)


def test_above_gate_split_bytes_unchanged(big_layout):
    par = 1
    layout = partition_stats(big_layout, DTS)
    nbytes = sum(r["estimated_bytes"] for r in layout)
    assert nbytes >= 3 * par * 4 * MB
    assert _footer_rule(big_layout, DTS, par) == "split"
    assert _resolve_skew_mode(layout, par) == ("split", "")
    assert split_partition_bytes(nbytes, par) == _formula(nbytes, par)
    # one dt (≈ 6.6 MB, 4 row groups): past the 6 MB gate, under the cap
    half = partition_stats(big_layout, DTS[:1])
    assert 6 * MB <= half[0]["estimated_bytes"] < 12 * MB
    assert _resolve_skew_mode(half, par) == ("split", "") \
        and _footer_rule(big_layout, DTS[:1], par) == "split"


def test_above_gate_too_few_row_groups_rebalance(tmp_path):
    # one 13 MB file of one row group: past the par=1 gate (6 MB), but a
    # single granule cannot be split across 4 waves — same as the footer rule
    root = _write_layout(str(tmp_path), DTS[:1], files_per_dt=1,
                         file_bytes=13 * MB, row_groups=1)
    layout = partition_stats(root, DTS)
    assert layout[0]["estimated_bytes"] >= 6 * MB
    mode, why = _resolve_skew_mode(layout, 1)
    assert mode == _footer_rule(root, DTS[:1], 1) == "rebalance"
    assert "row groups" in why


@pytest.mark.parametrize("par", [1, 4, 32])
def test_split_bytes_match_old_formula(par):
    cap = 3 * par * 4 * MB  # where the floor reaches its 4 MB cap
    for nbytes in (cap, cap + 1, 2 * cap, 12 * par * 4 * MB,
                   12 * par * 4 * MB + 12345, 100 * cap, 1 << 44):
        assert split_partition_bytes(nbytes, par) == _formula(nbytes, par)
        assert split_partition_bytes(nbytes, par) >= 4 * MB
    # between auto's gate and the cap, and below the gate (explicit
    # skew_mode='split' only), the formula holds too
    gate = 3 * par * 2 * MB
    for nbytes in (0, 1, 256 << 10, gate - 1, gate, gate + 1, cap - 1):
        assert split_partition_bytes(nbytes, par) == _formula(nbytes, par)
    assert split_partition_bytes(gate, par) == 2 * MB


def test_unreadable_footer_rebalance_with_reason(big_layout, tmp_path, caplog):
    root = str(tmp_path / "pages")
    for dt in DTS:
        os.makedirs(os.path.join(root, f"dt={dt}"))
        for f in os.listdir(os.path.join(big_layout, f"dt={dt}")):
            os.symlink(os.path.join(big_layout, f"dt={dt}", f),
                       os.path.join(root, f"dt={dt}", f))
    bad = os.path.join(root, f"dt={DTS[1]}", "part-bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    with caplog.at_level(logging.WARNING, logger=LISTING_LOG):
        layout = partition_stats(root, DTS)
    assert sum(r["estimated_bytes"] for r in layout) >= 6 * MB
    assert layout[0]["listing_error"] == ""
    mode, why = _resolve_skew_mode(layout, 1)
    assert mode == "rebalance"
    assert "unreadable footer" in why and bad in why
    assert [r.getMessage() for r in caplog.records
            if bad in r.getMessage()] == [why]


def test_unstatable_file_rebalance_with_reason(big_layout, tmp_path, caplog):
    root = str(tmp_path / "pages")
    d = os.path.join(root, f"dt={DTS[0]}")
    os.makedirs(d)
    for dt in DTS:
        for f in os.listdir(os.path.join(big_layout, f"dt={dt}")):
            os.symlink(os.path.join(big_layout, f"dt={dt}", f),
                       os.path.join(d, f"{dt}-{f}"))
    dangling = os.path.join(d, "part-gone.parquet")
    os.symlink(os.path.join(root, "missing"), dangling)
    with caplog.at_level(logging.WARNING, logger=LISTING_LOG):
        layout = partition_stats(root, DTS)
    error = layout[0]["listing_error"]
    assert dangling in error
    # the dangling file is left out of the bytes
    assert layout[0]["estimated_bytes"] == sum(
        os.path.getsize(p) for p in _parquet_files(root, DTS[:1])
        if p != dangling)
    assert any(dangling in r.getMessage() for r in caplog.records)
    assert _resolve_skew_mode(layout, 1) == ("rebalance", error)


MIN_PART = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
MAX_SPLIT = "spark.sql.files.maxPartitionBytes"


def _sizing(nbytes, par, mode):
    """The chunk conf before small chunks lowered minPartitionSize."""
    conf = {ADVISORY: str(max(MB, min(128 * MB, nbytes // (12 * par))))}
    if mode == "split":
        conf[MAX_SPLIT] = str(_formula(nbytes, par))
    return conf


@pytest.mark.parametrize("par", [1, 4, 32])
def test_chunk_conf_small_chunk_every_core(par):
    # a 2k-doc pages chunk is ~3.4 MB on disk; its shuffle ~1.6 MB
    for nbytes in (0, 1, 64 << 10, par * MB // 2, par * MB - 1):
        conf = chunk_conf(nbytes, par, "rebalance")
        assert conf == {**_sizing(nbytes, par, "rebalance"),
                        MIN_PART: str(64 << 10)}
        # AQE's target min(shuffle / par, advisory), floored at
        # minPartitionSize, is now the per-core share of the chunk
        assert int(conf[MIN_PART]) < int(conf[ADVISORY])


@pytest.mark.parametrize("par", [1, 4, 32])
def test_chunk_conf_gate_edge(par):
    below, at = par * MB - 1, par * MB
    assert MIN_PART in chunk_conf(below, par, "rebalance")
    assert chunk_conf(at, par, "rebalance") == _sizing(at, par, "rebalance")
    # past the edge a chunk keeps today's sizing, up to the 128 MB cap
    for nbytes in (at + 1, 12 * par * MB, 12 * par * MB + 12345,
                   12 * par * 128 * MB, 1 << 44):
        assert chunk_conf(nbytes, par, "rebalance") == \
            _sizing(nbytes, par, "rebalance")


@pytest.mark.parametrize("par", [1, 4, 32])
def test_chunk_conf_split_unchanged(par):
    for nbytes in (0, 1, par * MB - 1, par * MB, 3 * par * 2 * MB,
                   3 * par * 4 * MB, 1 << 44):
        conf = chunk_conf(nbytes, par, "split")
        assert conf == _sizing(nbytes, par, "split")
        assert MIN_PART not in conf
