"""End-to-end quality-filter job (SURVEY.md §3 'Spark lifecycle').

One declarative pass per chunk of partitions:

    size the chunk, pick its skew mode and take its input fingerprints
    from the planner's rows (the run's one walk of each input partition)
      → read pages (partition-pruned to the planner's run list)
      → native-expression features (WholeStageCodegen)
      → ONE fused scoring UDF: langid, perplexity, word/line features,
        scrub (broadcast models, Arrow batches)
      → rule booleans → keep/drop_reasons; scrubbed_text coalesced JVM-side
      → write docs/ staged, then swap each chunk dt's dir in (a failed
        write leaves docs/ as it was; an emptied dt keeps no stale docs)
    read back the chunk's docs dirs (cheap columnar projection, known
    schema, listed on the driver)
      → ONE collected aggregation (per-dt scalars, percentiles, PSI bucket
        counts and histogram bin counts between each dt's min/max, read
        from the docs files' footers), shaped on the driver into
        long-format rows → metrics/
    read the stored metric rows ONCE on the driver (pyarrow); plain
    Python over those rows derives
      → PSI drift vs predecessor cohorts, validation and anomaly
        events (+ schema events on the first chunk) → events/
      → per-partition (doc, kept) counts → lineage/, manifest, summary
    commit manifest rows (checkpoint; crash before this = partition redone)

The metrics aggregation is a chunk's only Spark job after its docs
write: every metadata table is written on the driver with pyarrow
(catalog.replace_partitions; the manifest appends one file). A failure
after the docs swap leaves new docs beside old metadata and fingerprint,
until a reprocess_changed run redoes the dt.

This mirrors the reference lifecycle (profile → write results → enrich →
drift → events → state update, /root/reference/baselinr/cli.py:275-362 and
storage/writer.py:120-167): Spark jobs for the document-scale work,
driver-side Python for metadata-scale rows and sinks, with the incremental
planner's skip/partial semantics (/root/reference/baselinr/incremental/
planner.py:140-225) decided on the driver by plans/planner.py over the
processed-partition manifest.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, RULE_NAMES, FilterConfig
from ..functions import textfeat
from ..functions.langid import CLASSES
from ..operators.drift import PSI_FLOOR, psi_band
from ..sources import catalog, manifest
from . import events as ev_mod
from . import planner

#: reference partial-profiling cap: max partitions per run
#: (/root/reference/baselinr/config/schema.py:898)
MAX_PARTITIONS_PER_RUN = 64

#: shuffle width for the metrics aggregation: its map side aggregates
#: partially, so it shuffles and outputs O(|chunk| x metrics) rows
META_SHUFFLE_PARTITIONS = 8

DOCS_COLS = (
    "url", "warc_ts", "keep", "drop_reasons", "lang", "lang_conf",
    "perplexity", "scrubbed_text", "run_id",
)

#: the docs table's columns the metrics read back, with their types
DOCS_READ_DDL = (
    "keep boolean, drop_reasons array<string>, lang string,"
    " perplexity double, scrubbed_text string, dt date"
)

#: schema of the metrics table
METRICS_DDL = (
    "run_id string, partition string, column_name string, metric_name string,"
    " metric_value double, metric_json string, profiled_at timestamp"
)

#: schema of the lineage table
LINEAGE_DDL = (
    "run_id string, partition string, input_path string, output_path string,"
    " doc_count long, kept_count long, ts timestamp"
)

def psi_bucket_expr():
    """Fixed log10 half-decade buckets for cross-cohort PSI comparability
    (the reference synthesizes comparable buckets from range overlap,
    statistical_tests.py:560-586; fixed edges keep every cohort's stored
    bucket counts comparable without re-reading older cohorts' docs)."""
    return F.least(
        F.lit(9),
        F.greatest(
            F.lit(0),
            F.floor(F.log10(F.greatest(F.col("perplexity"), F.lit(1.0))) * 2),
        ),
    ).cast("int")


def transform_pages(
    spark: SparkSession,
    pages: DataFrame,
    cfg: FilterConfig = DEFAULT_CONFIG,
    run_id: str = "run-0",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang[, dt]) → docs_out.

    One straight pass: cheap JVM features (n_chars, symbol_ratio and the
    opt-in rule families), then ONE fused pandas UDF
    (functions/scoring.py) that returns the model scores, word/line
    features and the scrub — so the text crosses the JVM↔Python boundary
    once — then the rule verdict. The UDF returns NULL for text the scrub
    left unchanged and the JVM coalesces it back, so `scrubbed_text` is
    byte-identical to `scrub.scrub_python` (the oracle) and NULL only for
    NULL text."""
    from ..functions.scoring import SCORING_SCHEMA, make_scoring_udf

    scoring_udf = make_scoring_udf(spark)

    # one projection per step: each withColumn would re-analyze the plan
    df = pages
    if cfg.repetition_rules:
        df = textfeat.with_repetition_features(
            df,
            top_ns=tuple(cfg.max_top_ngram_char_fraction),
            dup_ns=tuple(cfg.max_dup_ngram_char_fraction),
        )
    if cfg.line_rules:
        df = textfeat.with_line_features(df)
    if cfg.cc_rule:
        df = textfeat.with_cc_features(df)
    # n_chars/symbol_ratio are cheap JVM expressions (Java's \s is ASCII
    # [ \t\n\x0B\f\r]); the word/line features ride the fused UDF, the
    # text already crossing the boundary for the model scores. Both follow
    # the one spec in functions/scoring.feature_batch's docstring, which
    # oracle/pandas_ref.doc_features implements independently.
    text = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(text)
    n_symbols = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    df = df.withColumns({
        **({} if "dt" in df.columns else {"dt": F.to_date("warc_ts")}),
        "n_chars": n_chars,
        "symbol_ratio": F.when(n_chars > 0, n_symbols / n_chars)
        .otherwise(F.lit(0.0)),
        "_score": scoring_udf(F.col("text")),
    })
    # the fused UDF returns NULL when the scrub was the identity so
    # unchanged text never crosses the Python→JVM boundary twice;
    # restore the original here (byte-identical to scrubbing in place)
    df = df.withColumns({
        **{c: F.col(f"_score.{c}") for c in SCORING_SCHEMA.names},
        "scrubbed_text": F.coalesce(F.col("_score.scrubbed_text"),
                                    F.col("text")),
        "lang": F.col("_score.lang_pred"),
        "run_id": F.lit(run_id),
    })

    rules = {**textfeat.rule_columns(cfg), **textfeat.model_rule_columns(cfg)}
    if cfg.repetition_rules:
        rules.update(textfeat.repetition_rule_columns(cfg))
    if cfg.line_rules:
        rules.update(textfeat.line_rule_columns(cfg))
    if cfg.cc_rule:
        rules.update(textfeat.cc_rule_columns(cfg))
    df = textfeat.with_verdict(df, rules)

    rule_cols = [f"rule_{n}" for n in RULE_NAMES if f"rule_{n}" in df.columns]
    return df.select(*DOCS_COLS, *rule_cols, "dt")


def partition_metrics(docs: DataFrame, run_id: str,
                      bounds: dict) -> list[dict]:
    """Long-format per-partition metric rows of the docs read-back
    (FIXTURES.md §2 `metrics` shape, METRICS_DDL).

    Spark runs ONE aggregation, a groupBy(dt) over the narrow docs
    projection, and collects its row per partition; the driver shapes
    them. It computes every scalar, the four perplexity percentiles
    from ONE shared percentile_approx sketch (the same deterministic
    sketch a per-quantile call builds), the perplexity min/max, the
    fixed PSI bucket counts, and the equi-width perplexity histogram's
    bin counts (reference semantics: 10 bins over [min, max], bin i =
    [min+i·w, min+(i+1)·w), the last closed), binned by each
    partition's perplexity (min, max) in `bounds` (the docs files'
    footer statistics: catalog.column_bounds). A partition whose bounds
    are missing or differ from the aggregation's own min/max is binned
    again by a second aggregation over its docs.
    Each partition gets every scalar, rule_fire_rate:* and lang_frac:*
    row and four percentile rows, NULL where there is no value; a
    ppl_bucket:b row only where its count is > 0; and one
    perplexity_histogram row (metric_json), holding its bins with a
    count > 0, only where some perplexity is non-NULL and max > min."""
    p_col = F.col("dt").cast("string")
    no_text = ~F.col("__has_text")
    scalars = {
        "count": F.count(F.lit(1)),
        "kept_count": F.sum(F.col("keep").cast("long")),
        "keep_rate": F.avg(F.col("keep").cast("double")),
        "null_count": F.sum(no_text.cast("long")),
        "null_ratio": F.avg(no_text.cast("double")),
        "perplexity_mean": F.avg(F.col("perplexity")),
    }
    for r in RULE_NAMES:
        scalars[f"rule_fire_rate:{r}"] = F.avg(
            F.array_contains("drop_reasons", r).cast("double"))
    for lang in CLASSES:
        scalars[f"lang_frac:{lang}"] = F.avg(
            (F.col("lang") == lang).cast("double"))
    pq_names = ("p25", "p50", "p75", "p95")
    x = F.col("perplexity").cast("double")
    bucket = psi_bucket_expr()

    def ranges(min_max):
        # (min, width) of each partition with a histogram
        return {p: (m, (t - m) / 10.0) for p, (m, t) in min_max
                if t is not None and t > m}

    def bin_counts(rng):
        # count per bin, each partition's min and width as literal maps
        if rng:
            lo, w = (F.create_map(*[F.lit(v) for p, mw in rng.items()
                                    for v in (p, mw[i])])[p_col]
                     for i in (0, 1))
            bin_ = F.least(F.floor((x - lo) / w).cast("int"), F.lit(9))
        else:
            bin_ = F.lit(None)
        return [F.count(F.when(bin_ == b, F.lit(1))).alias(f"__h{b}")
                for b in range(10)]

    guess = ranges(bounds.items())
    agg = docs.groupBy(p_col.alias("partition")).agg(
        *[e.alias(n) for n, e in scalars.items()],
        F.percentile_approx("perplexity", [0.25, 0.5, 0.75, 0.95]).alias("__pq"),
        F.min(x).alias("__min"),
        F.max(x).alias("__max"),
        *[F.count(F.when(bucket == b, F.lit(1))).alias(f"__b{b}")
          for b in range(10)],
        *bin_counts(guess),
    ).collect()

    rng = ranges((r["partition"], (r["__min"], r["__max"])) for r in agg)
    by_p = {r["partition"]: r for r in agg}
    hist = {p: by_p[p] for p, mw in rng.items() if mw == guess.get(p)}
    redo = {p: mw for p, mw in rng.items() if p not in hist}
    if redo:
        # bounds missing or stale: bin those partitions again by the
        # aggregation's own min/max
        hist.update((r["partition"], r) for r in (
            docs.filter(p_col.isin(list(redo)))
            .groupBy(p_col.alias("partition")).agg(*bin_counts(redo))
            .collect()))

    profiled_at = dt.datetime.now(dt.timezone.utc)
    out = []

    def emit(p, column, name, value, js=None):
        out.append({"run_id": run_id, "partition": p, "column_name": column,
                    "metric_name": name, "metric_value": value,
                    "metric_json": js, "profiled_at": profiled_at})

    for r in agg:
        p = r["partition"]
        for n in scalars:
            emit(p, "document", n, r[n])
        for n, v in zip(pq_names, r["__pq"] or [None] * len(pq_names)):
            emit(p, "document", f"perplexity_{n}", v)
        # fixed-bucket perplexity distribution for PSI between cohorts
        for b in range(10):
            if r[f"__b{b}"] > 0:
                emit(p, "perplexity", f"ppl_bucket:{b}", r[f"__b{b}"])
        if p in hist:
            (m, w), h = rng[p], hist[p]
            emit(p, "perplexity", "perplexity_histogram", None, json.dumps(
                [{"bin": b, "bin_start": m + b * w, "bin_end": m + (b + 1) * w,
                  "count": h[f"__h{b}"]} for b in range(10) if h[f"__h{b}"] > 0],
                separators=(",", ":")))
    return out


def drift_events(rows: list[dict], run_id: str) -> list[dict]:
    """PSI between each partition cohort and its predecessor, from the
    stored ppl_bucket:* metric rows (partition, metric_name,
    metric_value). A cohort exists only if it has bucket rows; its
    distribution is each bucket's count over the cohort total. Terms sum
    in one fixed order, so a score is reproducible to the bit: the
    cohort's buckets ascending, then the buckets only its predecessor
    has; probabilities floor at PSI_FLOOR. One FIXTURES.md §2 `events`
    row per cohort with a predecessor, severity "none" included;
    analogue of DataDriftDetected events (reference events/events.py)."""
    cohorts: dict[str, dict[int, float]] = {}
    for r in rows:
        name = r["metric_name"]
        if name.startswith("ppl_bucket:") and r["metric_value"] is not None:
            # latest metrics per partition survive via overwrite; dedupe
            # anyway
            dist = cohorts.setdefault(r["partition"], {})
            b, v = int(name.split(":")[1]), r["metric_value"]
            dist[b] = max(dist.get(b, v), v)
    order = sorted(cohorts)
    out = []
    for base_p, cur_p in zip(order, order[1:]):
        cur, base = _probs(cohorts[cur_p]), _probs(cohorts[base_p])
        psi = 0.0
        for b in sorted(cur) + sorted(set(base) - set(cur)):
            pc = cur.get(b) or PSI_FLOOR
            pb = base.get(b) or PSI_FLOOR
            psi += (pc - pb) * math.log(pc / pb)
        out.append(ev_mod._event(
            run_id, "distribution_drift", cur_p, "perplexity_psi", None,
            None, psi, psi_band(psi), None, key=f"{run_id}|{cur_p}",
        ))
    return out


def _probs(counts: dict[int, float]) -> dict[int, float]:
    total = sum(counts.values())
    return {b: c / (total if total > 0 else 1.0) for b, c in counts.items()}


def _doc_counts(rows: list[dict], parts: list[str]) -> dict[str, tuple[int, int]]:
    """(doc, kept) count of each of `parts` from its stored count and
    kept_count metric rows; (0, 0) for a partition without them."""
    got = {(r["partition"], r["metric_name"]): int(r["metric_value"])
           for r in rows if r["metric_name"] in ("count", "kept_count")}
    return {p: (got.get((p, "count"), 0), got.get((p, "kept_count"), 0))
            for p in parts}


#: Spark's default for each conf run_pipeline overrides, restored as an
#: explicit value when the caller had not set the key
_CONF_DEFAULTS = {
    "spark.sql.files.maxPartitionBytes": str(128 << 20),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 << 20),
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(1 << 20),
    "spark.sql.shuffle.partitions": "200",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "32",
}


@contextlib.contextmanager
def _session_conf(spark: SparkSession, conf: dict):
    """Apply SQL conf overrides for the body and restore the caller's
    values even when the body raises, so other queries on a shared
    session keep their configuration."""
    prior = {k: spark.conf.get(k, _CONF_DEFAULTS[k]) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def split_partition_bytes(nbytes: int, par: int) -> int:
    """spark.sql.files.maxPartitionBytes for skew_mode='split' over an
    input of `nbytes` on `par` slots: ~12 waves per core (the last-wave
    tail idles fewer cores), capped at 128 MB. The floor min(4 MB,
    nbytes/(3·par)) keeps >= 3 waves on small inputs, and 256 KB is the
    absolute minimum.

    Every task of the fused UDF stage pays a fixed Python cost, on top of
    its worker's one-time cold start (chunk_conf). On a 4-vCPU host at
    local[4], an identity pandas_udf over the 76 files (3.4 MB) of a
    2k-doc pages warehouse took 4.9-5.3 s as 76 tasks and 0.4-0.5 s as
    4, i.e. ~250 ms of slot time per task. The kernels cost
    ~700 µs/doc, so a 4 MB split (~1.6 s of work at 1.75 KB/doc) keeps
    the fixed cost under ~15%, while a 256 KB split is mostly fixed cost
    — and a split under openCostInBytes (512 KB) plus a file's size
    holds that one file."""
    lo = max(256 << 10, min(4 << 20, nbytes // (3 * par)))
    return max(lo, min(128 << 20, nbytes // (12 * par)))


def chunk_conf(nbytes: int, par: int, skew_mode: str) -> dict:
    """SQL conf of a chunk's transform and docs write (`nbytes` on disk,
    `par` slots). Each UDF task writes ONE dt dir: files ≈ tasks.
    - split: scan splits of split_partition_bytes, ZERO shuffle.
    - rebalance: ONE AQE REBALANCE by dt to ~12 waves/core (1-128 MB).
      AQE targets max(min(shuffle / par, advisory), minPartitionSize), so
      Spark's 1 MB minPartitionSize runs a shuffle under par MB as ONE
      Python task. Each cold worker costs ~1.5 s (local[4], 4 vCPU: 2.7 s
      of worker time as one 2k-doc task, 8.6 s as four), but par workers
      pay it side by side: that chunk's transform and docs write took
      6.5 s as one task, 4.9 s as four. So a chunk whose on-disk bytes
      (which bound its shuffle) fit in par advisory partitions gets a
      64 KB minPartitionSize."""
    advisory = max(1 << 20, min(128 << 20, nbytes // (12 * par)))
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory)}
    if skew_mode == "split":
        conf["spark.sql.files.maxPartitionBytes"] = str(split_partition_bytes(nbytes, par))
    elif nbytes < par * advisory:
        conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = str(64 << 10)
    return conf


#: skew_mode='auto' picks split only when the split floor nbytes/(3·par)
#: reaches this (see _resolve_skew_mode)
_AUTO_SPLIT_MIN_BYTES = 2 << 20


def _resolve_skew_mode(rows: list[dict], par: int) -> tuple[str, str]:
    """skew_mode='auto' for a chunk of the plan `rows` (planner.
    partition_stats: bytes, row groups, largest granule and the first
    listing error of each partition) on `par` slots. Returns (mode,
    reason); the reason is '' for split.

    Split pays only when every split carries enough work to amortise the
    fixed per-task Python cost (split_partition_bytes). So a chunk under
    3·par·2 MB, where split's floor would be under 2 MB, takes the AQE
    rebalance, which packs it into byte-balanced tasks that each write
    one dt dir (about par of them for a chunk that fits in par advisory
    partitions: chunk_conf). Measured on a 4-vCPU host
    at local[4] over 76-file pages warehouses (run_pipeline wall, warm
    session): rebalance won at 10k docs (15 MB: 9.3-10.5 s vs 10.9-11.6
    s), was about even at 15k (22 MB: 10.3-14.1 s vs 11.2-12.0 s) and
    lost at 20k (29 MB: 13.5-14.3 s vs
    11.3-11.8 s), so the gate sits at 24 MB for par=4. At and above
    3·par·4 MB the split floor sits at its 4 MB cap, and the mode and the
    split bytes are what the footers alone decided before the gate.

    Past the gate the parquet footers decide: scan splits cannot be
    smaller than a row group, so split needs >= 4·par row groups and no
    row-group granule (file bytes / row groups) over 64 MB. A file that
    could not be stat'ed, or whose footer could not be read, falls back
    to rebalance whatever the bytes; the listing logged it, and the
    reason names it."""
    error = next((r["listing_error"] for r in rows if r["listing_error"]), "")
    if error:
        return "rebalance", error
    nbytes = sum(r["estimated_bytes"] for r in rows)
    gate = 3 * par * _AUTO_SPLIT_MIN_BYTES
    if nbytes < gate:
        return "rebalance", f"chunk {nbytes} B below split gate {gate} B"
    n_granules = sum(r["row_groups"] for r in rows)
    if n_granules < 4 * par:
        return "rebalance", f"{n_granules} row groups < 4·par ({4 * par})"
    max_granule = max(r["max_granule"] for r in rows)
    if max_granule > (64 << 20):
        return "rebalance", f"row-group granule {max_granule} B > 64 MB"
    return "split", ""


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    cfg: FilterConfig = DEFAULT_CONFIG,
    run_id: str | None = None,
    max_partitions: int = MAX_PARTITIONS_PER_RUN,
    checkpoint_every: int | None = None,
    reprocess_changed: bool = False,
    hooks: list | None = None,
    hook_min_severity: str = "medium",
    scheduling=None,
    cost=None,
    skew_mode: str = "auto",
) -> dict:
    """Run the filter over the partitions `planner.plan_partitions`
    selects (action run or sample), at most `max_partitions` of them.
    Returns a summary dict. `checkpoint_every` chunks the todo list so
    the manifest commits every N partitions (partition-granular resume);
    `reprocess_changed` additionally re-runs done partitions whose input
    fingerprint changed since their manifest commit (upstream backfill —
    reference incremental/change_detection.py semantics); `scheduling`
    and `cost` are the planner's freshness interval and cost caps."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    # decision cascade (freshness interval → snapshot match → cost caps →
    # sample/defer/full fallback); one row per partition, with the stats
    # of the run's one listing of its input
    plan_rows = planner.plan_partitions(
        input_path, output_root,
        scheduling=scheduling, cost=cost,
        reprocess_changed=reprocess_changed,
    )
    by_part = {r["partition"]: r for r in plan_rows}
    todo = [r["partition"] for r in plan_rows
            if r["action"] in ("run", "sample")][:max_partitions]
    fractions = {r["partition"]: r["sample_fraction"] for r in plan_rows
                 if r["action"] == "sample" and r["partition"] in todo}
    deferred = [r["partition"] for r in plan_rows if r["action"] == "defer"]

    summary = {
        "run_id": run_id,
        "partitions_total": len(plan_rows),
        "partitions_skipped": len(plan_rows) - len(todo),
        "partitions_processed": [],
        "doc_count": 0,
        "kept_count": 0,
        "phase_s": {},
    }
    if deferred:
        summary["partitions_deferred"] = deferred
    if fractions:
        summary["partitions_sampled"] = sorted(fractions)
    if not todo:
        return summary

    step = checkpoint_every or len(todo)
    # sampled partitions get their own chunks: a chunk applies ONE
    # sample fraction to its whole read, so mixing full and sampled
    # partitions in a chunk would sample the full ones too
    full_todo = [p for p in todo if p not in fractions]
    chunks = [full_todo[i : i + step] for i in range(0, len(full_todo), step)]
    samp_todo = [p for p in todo if p in fractions]
    for frac in sorted({fractions[p] for p in samp_todo}):
        grp = [p for p in samp_todo if fractions[p] == frac]
        chunks += [grp[i : i + step] for i in range(0, len(grp), step)]

    docs_dir = os.path.join(output_root, "docs")
    metrics_dir = os.path.join(output_root, "metrics")
    events_dir = os.path.join(output_root, "events")
    lineage_dir = os.path.join(output_root, "lineage")
    schema_dir = os.path.join(output_root, "schema")

    def _tick(name, t0):
        ph = summary["phase_s"]
        ph[name] = round(ph.get(name, 0.0) + time.time() - t0, 2)
        return time.time()

    for ci, chunk in enumerate(chunks):
        t0 = time.time()
        par = spark.sparkContext.defaultParallelism
        chunk_plan = [by_part[p] for p in chunk]
        chunk_skew = skew_mode
        if skew_mode == "auto":
            chunk_skew, why = _resolve_skew_mode(chunk_plan, par)
            key = ",".join(chunk)
            summary.setdefault("skew_mode_used", {})[key] = chunk_skew
            summary.setdefault("skew_mode_reason", {})[key] = why
        conf = chunk_conf(sum(r["estimated_bytes"] for r in chunk_plan), par,
                          chunk_skew)
        with _session_conf(spark, conf):
            pages = spark.read.parquet(input_path).filter(
                F.col("dt").cast("string").isin(chunk)
            )
            # prune to the columns the filter actually consumes BEFORE the
            # shuffle — the raw `html` blob is as large as `text` and is
            # never read downstream, so carrying it would double shuffle
            # bytes
            pages = pages.select("url", "warc_ts", "text", "dt")
            chunk_frac = fractions.get(chunk[0])
            if chunk_frac is not None:
                # cost-cap downgrade: deterministic hash sample (reference
                # fallback_strategy='sample', incremental/planner.py:287-289)
                # — a plain filter below the shuffle, reproducible across
                # runs so resume/backfill see the same sampled cohort
                from ..operators.profiling import hash_sample

                pages = hash_sample(pages, "url", chunk_frac)
            if chunk_skew != "split":
                pages = pages.hint("rebalance", "dt")
            docs = transform_pages(spark, pages, cfg, run_id)
            catalog.write_partitioned(docs, docs_dir, chunk)
        t0 = _tick("transform_write", t0)

        # metrics from the written output (columnar projection; avoids
        # recomputing UDF scores and caching the full text at scale): the
        # chunk's only Spark job after its docs write. Only the chunk's
        # dt dirs are read, with the docs table's known schema, so no job
        # infers it. The histogram is binned by the perplexity bounds the
        # docs write stored in its footers.
        dirs = [d for d in (os.path.join(docs_dir, f"dt={p}") for p in chunk)
                if os.path.isdir(d)]
        # The metrics aggregation's output is metadata-scale (O(|chunk| x
        # metrics) rows): 32+ shuffle partitions and AQE's per-stage
        # re-optimization rounds are pure scheduling overhead there
        # (measured ~11s of fixed cost per chunk at local[32] regardless
        # of SF — guide §1.2 step 3). Pin a small shuffle width and plan
        # it in one pass, and list the chunk's dirs on the driver (past
        # the threshold Spark lists them with a job); the caller's values
        # return after it.
        meta_conf = {
            "spark.sql.shuffle.partitions": str(META_SHUFFLE_PARTITIONS),
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.sources.parallelPartitionDiscovery.threshold":
                str(max(32, len(dirs))),
        }
        metric_rows = []
        if dirs:
            with _session_conf(spark, meta_conf):
                docs_back = (
                    spark.read.schema(DOCS_READ_DDL)
                    .option("basePath", docs_dir).parquet(*dirs)
                    .select("dt", "keep", "drop_reasons", "lang", "perplexity",
                            F.col("scrubbed_text").isNotNull().alias("__has_text"))
                )
                metric_rows = partition_metrics(
                    docs_back, run_id,
                    catalog.column_bounds(docs_dir, "perplexity", chunk))
        catalog.replace_partitions(metrics_dir, metric_rows, METRICS_DDL, chunk)
        t0 = _tick("metrics", t0)

        # Everything after the metrics write is a function of the stored
        # metric rows (reference cli.py:275-362: events come from the
        # profiling results already held). One driver-side read of the
        # whole metrics dir serves all of it: anomaly limits need every
        # cohort's count, drift each chunk cohort's predecessor, which
        # may be any earlier stored dt. A corrupt or unreadable metric
        # file raises here, before any event is written.
        import pyarrow.parquet as pq

        rows = pq.read_table(
            metrics_dir, columns=["partition", "metric_name", "metric_value"]
        ).to_pylist()
        in_chunk = set(chunk)
        events = [
            e
            for build in (drift_events, ev_mod.validation_events,
                          ev_mod.anomaly_events)
            for e in build(rows, run_id)
            if e["partition"] in in_chunk
        ]
        if ci == 0:
            ev_mod.write_schema_snapshot(docs, schema_dir, run_id)
            events += ev_mod.schema_change_events(schema_dir, run_id)
        # one UTC instant per chunk, shared by the events, the hook dicts
        # and the lineage rows
        ts = dt.datetime.now(dt.timezone.utc)
        for e in events:
            e["ts"] = ts
        catalog.replace_partitions(events_dir, events, ev_mod.EVENTS_DDL, chunk)
        if hooks:
            # alert on THIS run's events, not a read-back of the events
            # dir: the '__schema__' partition is only overwritten when a
            # run produces schema events, so a disk read would re-alert a
            # previous run's (or previous chunk's) stale schema changes
            from .hooks import dispatch_events

            dispatch_events(events, hooks, min_severity=hook_min_severity)
        t0 = _tick("drift", t0)

        counts = _doc_counts(rows, chunk)
        lineage = [
            {"run_id": run_id, "partition": p,
             "input_path": os.path.join(input_path, f"dt={p}"),
             "output_path": os.path.join(docs_dir, f"dt={p}"),
             "doc_count": counts[p][0], "kept_count": counts[p][1], "ts": ts}
            for p in chunk
        ]
        catalog.replace_partitions(lineage_dir, lineage, LINEAGE_DDL, chunk)
        t0 = _tick("counts_lineage", t0)

        now = dt.datetime.now(dt.timezone.utc)
        # cost-cap downgraded chunks commit as status='sampled' with the
        # fraction recorded, NOT 'done': the planner skips them only
        # while the same cap+fraction still applies and promotes them to
        # a full run once caps are lifted — a 'done' commit would
        # silently freeze the partition at ~fraction of its docs forever
        manifest.commit_partitions(
            output_root,
            run_id,
            [
                {
                    "partition": p,
                    "status": "done" if chunk_frac is None else "sampled",
                    "doc_count": counts[p][0],
                    "kept_count": counts[p][1],
                    "completed_at": now,
                    "snapshot_id": f"{run_id}:{ci}",
                    # listed BEFORE the chunk's read: a backfill landing
                    # while it runs is detected by the NEXT
                    # reprocess_changed run
                    "fingerprint": by_part[p]["fingerprint"],
                    "sample_fraction": chunk_frac,
                }
                for p in chunk
            ],
        )
        _tick("manifest", t0)
        summary["partitions_processed"].extend(chunk)
        summary["doc_count"] += sum(v[0] for v in counts.values())
        summary["kept_count"] += sum(v[1] for v in counts.values())

    return summary
