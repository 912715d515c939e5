"""Incremental run planner: per-partition run/sample/skip/defer decisions.

The one place that decides which partitions a run processes:
`run_pipeline`, the Dagster sensor and `query_meta.py plan` all take
their run list from `plan_partitions`. It recasts the reference
IncrementalPlanner's decision cascade
(/root/reference/baselinr/incremental/planner.py:141-295) at partition
granularity:

1. ``fresh_within_interval`` — adaptive scheduling: a partition profiled
   within its (clamped, per-partition-overridable) interval is skipped
   before any change detection runs (`_is_due`, planner.py:227-238).
2. ``snapshot_match`` / ``already_profiled`` — a fully done partition
   skips: always by default (manifest resume), and with
   ``reprocess_changed`` only while its input fingerprint still matches
   the committed one (planner.py:159-165 via change_detection).
3. ``sampled_cap_unchanged`` — a cost-cap sampled partition skips while
   the same cap and fraction still apply.
4. Cost controls (`_check_costs`/`_cost_response`, planner.py:276-295):
   a runnable partition whose estimated bytes/rows exceed the caps is
   downgraded per ``fallback_strategy`` — ``sample`` (run on a
   deterministic hash sample), ``defer`` (skip, should_run=False), or
   ``full`` (run anyway, reason recorded).
5. Otherwise run in full (``promote_sampled_to_full`` /
   ``change_detected`` / ``never_profiled``).

The cascade runs as plain Python on the driver, over rows the driver
holds anyway: one walk of each partition's files
(`catalog.list_data_files`) gives its bytes from file stats, its rows
from parquet footers (never a data scan, mirroring the reference's
metadata-only contract) and its input fingerprint, and the manifest's
latest state is read with pyarrow. All of it is O(partitions) driver
work: planning launches no Spark job and needs no session. The plan
rows carry the listing's figures on, so a run lists each input
partition once: `run_pipeline` sizes each chunk, resolves its skew mode
and records its fingerprints from them, and the Dagster sensor builds
its cursor from them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from ..sources import catalog, change_detection, manifest


@dataclass(frozen=True)
class AdaptiveScheduling:
    """Mirror of the reference adaptive_scheduling config
    (/root/reference/baselinr/incremental/planner.py:227-238): skip a
    partition re-profiled within `interval` minutes; per-partition
    overrides, clamped to [min, max]."""

    enabled: bool = False
    default_interval_minutes: int = 1440
    min_interval_minutes: int = 5
    max_interval_minutes: int = 7 * 1440
    priority_overrides: dict[str, int] = field(default_factory=dict)


@dataclass(frozen=True)
class CostControls:
    """Mirror of the reference cost_controls config
    (/root/reference/baselinr/incremental/planner.py:276-295)."""

    enabled: bool = False
    max_bytes_scanned: int | None = None
    max_rows_scanned: int | None = None
    fallback_strategy: str = "sample"  # sample | defer | full
    sample_fraction: float = 0.1


def partition_stats(input_path: str, partitions: list[str]) -> list[dict]:
    """Per-partition stats from ONE `catalog.list_data_files` walk of
    each `dt=<p>` dir: file stats and parquet footers only, never a data
    scan. Keys: partition; estimated_bytes (the data files' bytes) and
    estimated_rows (`catalog.estimated_rows`: footer rows, else the
    reference's bytes/1KB heuristic, as its `_estimate_cost`,
    planner.py:269-274, falls back from warehouse metadata); the input
    ``fingerprint`` (sources/change_detection.py); ``row_groups`` and
    ``max_granule`` (the most file bytes per row group), which decide
    skew_mode='auto' (plans/pipeline.py); and ``listing_error``, the
    first file that could not be stat'ed or whose footer could not be
    read ('' if none)."""
    listings = catalog.list_data_files(
        [os.path.join(input_path, f"dt={p}") for p in partitions])
    out = []
    for p, (files, errors) in zip(partitions, listings):
        groups = [(f.size, max(f.row_groups, 1)) for f in files
                  if f.row_groups is not None]
        out.append({
            "partition": p,
            "estimated_bytes": sum(f.size for f in files),
            "estimated_rows": catalog.estimated_rows(files),
            "fingerprint": change_detection.partition_fingerprint(files),
            "row_groups": sum(g for _, g in groups),
            "max_granule": max((size // g for size, g in groups), default=0),
            "listing_error": errors[0] if errors else "",
        })
    return out


def _stored_state(output_root: str) -> dict:
    """partition -> (status, fingerprint, completed_at, sample_fraction)
    of each partition whose latest manifest row is ``done``/``sampled``."""
    return {r["partition"]: (r["status"], r["fingerprint"], r["completed_at"],
                             r["sample_fraction"])
            for r in manifest.latest_rows(output_root)
            if r["status"] in ("done", "sampled")}


def plan_partitions(
    input_path: str,
    output_root: str,
    partitions: list[str] | None = None,
    now: datetime | None = None,
    scheduling: AdaptiveScheduling | None = None,
    cost: CostControls | None = None,
    reprocess_changed: bool = False,
) -> list[dict]:
    """One decision dict per input partition, sorted by partition.

    Keys: partition, action (run|sample|skip|defer), reason, the
    `partition_stats` of the partition's input (estimated_bytes,
    estimated_rows, fingerprint, row_groups, max_granule,
    listing_error), and sample_fraction (non-None only for
    action=sample). ``skip``/``defer`` rows have should-not-run
    semantics; ``defer`` specifically means "wanted to run, cost caps
    said no" (reference planner.py:291-293). The input is walked once
    per call: a run sizes, resolves and fingerprints its chunks from
    these rows.
    """
    scheduling = scheduling or AdaptiveScheduling()
    cost = cost or CostControls()
    now_s = (now or datetime.now(timezone.utc)).timestamp()
    parts = partitions if partitions is not None else catalog.list_partitions(input_path)

    stats = partition_stats(input_path, parts)
    state = _stored_state(output_root)

    # per-partition interval in minutes, clamped to [lo, hi] (reference _is_due)
    overrides = {str(k): float(v)
                 for k, v in scheduling.priority_overrides.items()}
    default_interval = float(scheduling.default_interval_minutes)
    lo = float(scheduling.min_interval_minutes)
    hi = float(scheduling.max_interval_minutes)
    capped_action = {"sample": "sample", "defer": "defer"}.get(
        cost.fallback_strategy, "run")
    fraction = float(cost.sample_fraction)

    def decide(p, nbytes, nrows, fp) -> tuple[str, str]:
        status, stored_fp, profiled_at, stored_fraction = state.get(
            p, (None, None, None, None))
        ever_profiled = profiled_at is not None
        # reference order: freshness gate FIRST (cheapest — no change
        # detection), then snapshot match, then cost caps on the rest
        if scheduling.enabled and ever_profiled:
            interval = min(max(overrides.get(p, default_interval), lo), hi)
            if (now_s - profiled_at.timestamp()) / 60.0 < interval:
                return "skip", "fresh_within_interval"
        fp_match = stored_fp is not None and stored_fp == fp
        # without reprocess_changed, FULLY-done partitions never re-run
        # (manifest resume); with it, only a fingerprint match skips.
        # Partitions whose latest run was cost-cap SAMPLED are never
        # terminally done: they skip only while the same cap + fraction
        # still applies (re-sampling the same deterministic url-hash
        # cohort would reproduce the identical output), and are otherwise
        # promoted to a full run.
        if ever_profiled and status == "done" and (fp_match or not reprocess_changed):
            return "skip", "snapshot_match" if fp_match else "already_profiled"
        stored_sampled = ever_profiled and status == "sampled"
        over_bytes = (cost.enabled and cost.max_bytes_scanned is not None
                      and nbytes > cost.max_bytes_scanned)
        over_rows = (cost.enabled and cost.max_rows_scanned is not None
                     and nrows > cost.max_rows_scanned)
        if (stored_sampled and fp_match and (over_bytes or over_rows)
                and capped_action == "sample" and stored_fraction == fraction):
            return "skip", "sampled_cap_unchanged"
        if over_bytes:
            return capped_action, "bytes_cap_exceeded"
        if over_rows:
            return capped_action, "rows_cap_exceeded"
        if stored_sampled and fp_match:
            return "run", "promote_sampled_to_full"
        if ever_profiled:
            return "run", "change_detected"
        return "run", "never_profiled"

    plan = []
    for st in stats:
        action, reason = decide(st["partition"], st["estimated_bytes"],
                                st["estimated_rows"], st["fingerprint"])
        plan.append({
            "partition": st["partition"],
            "action": action,
            "reason": reason,
            **st,
            "sample_fraction": fraction if action == "sample" else None,
        })
    return sorted(plan, key=lambda r: r["partition"])
