"""Re-crawl version history and page-change-rate statistics.

A Common-Crawl-style corpus carries many snapshots of the same page
(same canonical URL, different ``warc_ts``). Two curation decisions
hang on how often pages actually change:

- crawl scheduling: domains whose pages never change are re-crawled
  too often; fast-churn domains too rarely;
- dedup policy: an unchanged re-visit is an exact duplicate the exact
  dedup pass will drop, while a changed re-visit is a NEW document —
  the change rate predicts the dedup savings per domain.

:func:`page_versions` flags, per page, which snapshot changed content
vs its predecessor (hash lag over the per-page time order);
:func:`revisit_change_stats` rolls that up per domain.

Scale design (10^12 snapshots): the only window runs PARTITIONED BY
page key — per-partition work is the page's snapshot count (bounded by
crawl frequency, never corpus-scale), and Spark shuffles on the page
key exactly once; the domain rollup is a map-side-combined groupBy.
No global window, no driver collect.

Reference parity: the reference's change detection is table-level
fingerprinting (its `incremental/change_detection.py`, recast per input
partition by sources/change_detection.py over the planner's file
listing); this operator is the row-grain analogue the web corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _versioned(df: DataFrame, key_col: str, ts_col: str, hash_col: str):
    """Adds visit_no + changed over the per-page time order (ties break
    on the hash for determinism)."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(hash_col))
    prev = F.lag(F.col(hash_col)).over(w)
    return df.withColumn("visit_no", F.row_number().over(w)).withColumn(
        "changed",
        F.when(prev.isNull(), F.lit(0))
        .when(prev != F.col(hash_col), F.lit(1))
        .otherwise(F.lit(0)),
    )


def page_versions(
    df: DataFrame, key_col: str, ts_col: str, hash_col: str
) -> DataFrame:
    """Per-snapshot change flags: (key, ts, content_hash, visit_no,
    changed) — changed = 1 when the content hash differs from the
    previous snapshot of the same page (the first snapshot is NOT a
    change)."""
    return _versioned(df, key_col, ts_col, hash_col).select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(hash_col).alias("content_hash"),
        "visit_no",
        "changed",
    )


def revisit_change_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    hash_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group re-crawl profile: (grp, n_pages, n_visits, n_revisits,
    n_changes, change_rate) where change_rate = n_changes / n_revisits
    (0.0 for groups whose every page was seen once)."""
    v = _versioned(df, key_col, ts_col, hash_col)
    agg = v.groupBy(F.col(group_col).alias("grp")).agg(
        F.count_distinct(F.col(key_col)).cast("bigint").alias("n_pages"),
        F.count(F.lit(1)).cast("bigint").alias("n_visits"),
        F.sum((F.col("visit_no") > 1).cast("long")).cast("bigint").alias("n_revisits"),
        F.sum("changed").cast("bigint").alias("n_changes"),
    )
    return agg.select(
        "grp",
        "n_pages",
        "n_visits",
        "n_revisits",
        "n_changes",
        F.when(
            F.col("n_revisits") > 0,
            F.col("n_changes").cast("double") / F.col("n_revisits").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("change_rate"),
    )


def oracle_revisit_change_stats_sql(
    rows_sql: str,
    key_col: str,
    ts_col: str,
    hash_col: str,
    group_col: str,
) -> str:
    """DuckDB twin of :func:`revisit_change_stats` over ``rows_sql``."""
    return f"""
WITH rows_in AS ({rows_sql}),
v AS (
  SELECT {group_col} AS grp, {key_col} AS key,
         row_number() OVER (PARTITION BY {key_col}
                            ORDER BY {ts_col}, {hash_col}) AS visit_no,
         CASE WHEN lag({hash_col}) OVER (PARTITION BY {key_col}
                                         ORDER BY {ts_col}, {hash_col}) IS NULL
              THEN 0
              WHEN lag({hash_col}) OVER (PARTITION BY {key_col}
                                         ORDER BY {ts_col}, {hash_col})
                   <> {hash_col}
              THEN 1 ELSE 0 END AS changed
  FROM rows_in
)
SELECT grp, count(DISTINCT key)::bigint AS n_pages,
       count(*)::bigint AS n_visits,
       sum((visit_no > 1)::int)::bigint AS n_revisits,
       sum(changed)::bigint AS n_changes,
       CASE WHEN sum((visit_no > 1)::int) > 0
            THEN sum(changed)::double / sum((visit_no > 1)::int)::double
            ELSE 0.0 END AS change_rate
FROM v GROUP BY 1"""


def revisit_schedule(
    stats: DataFrame,
    *,
    base_interval_days: float,
    target_change_prob: float = 0.5,
    min_interval_days: float = 1.0,
    max_interval_days: float = 365.0,
    eps: float = 1e-6,
) -> DataFrame:
    """Re-crawl interval planner over :func:`revisit_change_stats`
    output (Cho & Garcia-Molina, TOIT 2003 — Poisson change model;
    public). Observed: change_rate r per revisit at the historical
    cadence ``base_interval_days``. Estimated Poisson rate
    λ̂ = -ln(1 - r) / base_interval (capped at 1-eps so all-change
    groups stay finite); next interval chosen so the change
    probability per visit hits ``target_change_prob``:
    I = -ln(1 - p_target) / λ̂, clamped to [min, max]. Never-changing
    groups (r = 0) go straight to the max interval.

    Returns stats + (lambda_per_day, next_interval_days). Row-local
    arithmetic over the O(groups) stats table — metadata-scale.
    """
    import math

    r = F.least(F.col("change_rate"), F.lit(1.0 - eps))
    lam = -F.log(F.lit(1.0) - r) / F.lit(float(base_interval_days))
    target = -math.log(1.0 - target_change_prob)
    interval = F.when(F.col("change_rate") <= 0.0,
                      F.lit(float(max_interval_days))).otherwise(
        F.least(
            F.greatest(F.lit(target) / lam, F.lit(float(min_interval_days))),
            F.lit(float(max_interval_days)),
        )
    )
    return stats.select(
        "*",
        F.round(lam, 6).alias("lambda_per_day"),
        F.round(interval, 6).alias("next_interval_days"),
    )


def oracle_revisit_schedule_sql(
    stats_sql: str,
    *,
    base_interval_days: float,
    target_change_prob: float = 0.5,
    min_interval_days: float = 1.0,
    max_interval_days: float = 365.0,
    eps: float = 1e-6,
) -> str:
    """DuckDB twin of :func:`revisit_schedule`."""
    import math

    target = -math.log(1.0 - target_change_prob)
    return f"""
WITH stats_in AS ({stats_sql}),
lam AS (
  SELECT *,
         -ln(1.0 - least(change_rate, {1.0 - eps!r}))
           / {float(base_interval_days)!r} AS l
  FROM stats_in
)
SELECT * EXCLUDE (l), round(l, 6) AS lambda_per_day,
       round(CASE WHEN change_rate <= 0.0 THEN {float(max_interval_days)!r}
                  ELSE least(greatest({target!r} / l,
                                      {float(min_interval_days)!r}),
                             {float(max_interval_days)!r}) END,
             6) AS next_interval_days
FROM lam"""


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    hash_col: str,
    group_col: str,
) -> DataFrame:
    """Crawl-snapshot diff: per group, how many pages were added,
    removed, changed, or unchanged between two corpus snapshots — the
    crawl-ops health view ("did this month's crawl actually refresh
    the corpus, or re-fetch identical bytes?") and the input to
    incremental-processing sizing (only added+changed pages need to
    flow through the filter again).

    Returns (group_col, n_old, n_new, added, removed, changed,
    unchanged, churn_rate) with churn = (added+removed+changed) /
    max(n_old+added, 1) — the fraction of the union the diff touched.

    Scale design: ONE full-outer equi-join on the page key (both
    sides shuffle once; AQE splits skew), then a map-side-combined
    groupBy on the group key. Hashes compare row-locally; text never
    moves, only (key, hash, group).
    """
    o = old.select(
        F.col(key_col).alias("k"),
        F.col(hash_col).alias("oh"),
        F.col(group_col).alias("og"),
    )
    n = new.select(
        F.col(key_col).alias("k"),
        F.col(hash_col).alias("nh"),
        F.col(group_col).alias("ng"),
    )
    j = o.join(n, "k", "full_outer").select(
        F.coalesce(F.col("ng"), F.col("og")).alias("grp"),
        F.col("oh").isNull().cast("int").alias("added"),
        F.col("nh").isNull().cast("int").alias("removed"),
        (
            F.col("oh").isNotNull()
            & F.col("nh").isNotNull()
            & (F.col("oh") != F.col("nh"))
        ).cast("int").alias("changed"),
        (F.col("oh") == F.col("nh")).cast("int").alias("unchanged"),
        F.col("oh").isNotNull().cast("int").alias("in_old"),
        F.col("nh").isNotNull().cast("int").alias("in_new"),
    )
    # every flag coalesces to 0: a one-sided snapshot makes the
    # null-propagating (oh = nh) flag NULL on every row, and an
    # all-NULL sum is NULL in both engines
    agg = j.groupBy("grp").agg(
        *[
            F.coalesce(F.sum(c), F.lit(0)).cast("bigint").alias(c2)
            for c, c2 in [
                ("in_old", "n_old"), ("in_new", "n_new"),
                ("added", "added"), ("removed", "removed"),
                ("changed", "changed"), ("unchanged", "unchanged"),
            ]
        ]
    )
    union_n = F.greatest(F.col("n_old") + F.col("added"), F.lit(1))
    return agg.select(
        F.col("grp").alias(group_col),
        "n_old",
        "n_new",
        "added",
        "removed",
        "changed",
        "unchanged",
        F.round(
            (F.col("added") + F.col("removed") + F.col("changed"))
            / union_n.cast("double"),
            6,
        ).alias("churn_rate"),
    )


def oracle_snapshot_diff_sql(
    old_sql: str,
    new_sql: str,
    key_col: str,
    hash_col: str,
    group_col: str,
) -> str:
    """DuckDB twin of :func:`snapshot_diff`."""
    return f"""
WITH old_in AS ({old_sql}),
new_in AS ({new_sql}),
j AS (
  SELECT coalesce(n.{group_col}, o.{group_col}) AS grp,
         (o.{hash_col} IS NULL)::int AS added,
         (n.{hash_col} IS NULL)::int AS removed,
         (o.{hash_col} IS NOT NULL AND n.{hash_col} IS NOT NULL
          AND o.{hash_col} <> n.{hash_col})::int AS changed,
         (o.{hash_col} = n.{hash_col})::int AS unchanged,
         (o.{hash_col} IS NOT NULL)::int AS in_old,
         (n.{hash_col} IS NOT NULL)::int AS in_new
  FROM old_in o FULL OUTER JOIN new_in n ON o.{key_col} = n.{key_col}
),
agg AS (
  SELECT grp, coalesce(sum(in_old), 0)::bigint AS n_old,
         coalesce(sum(in_new), 0)::bigint AS n_new,
         coalesce(sum(added), 0)::bigint AS added,
         coalesce(sum(removed), 0)::bigint AS removed,
         coalesce(sum(changed), 0)::bigint AS changed,
         coalesce(sum(unchanged), 0)::bigint AS unchanged
  FROM j GROUP BY 1
)
SELECT grp AS {group_col}, n_old, n_new, added, removed, changed, unchanged,
       round((added + removed + changed)
             / greatest(n_old + added, 1)::double, 6) AS churn_rate
FROM agg"""
