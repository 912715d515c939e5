"""Classifier evaluation sweeps for quality-filter calibration.

The north-rule acceptance metric for a web-text quality filter is
keep/drop F1 vs reference labels; this module is the evaluation
harness that computes it — and the full threshold sweep used to
CHOOSE the operating point — as one distributed pass. The reference
repo has no evaluation surface (its scoring stops at the composite
quality score, ``/root/reference/baselinr/scoring/``), so this is
additive coverage; the per-label parity test in
``tests/test_pipeline_e2e.py`` asserts the F1=1.0 case, this operator
generalizes it to arbitrary score columns.

Scale design (10^12 docs, T thresholds): each row fans out to T
(threshold, outcome) pairs via an exploded literal array — T is a
handful, the fan-out is map-local, and the single groupBy(threshold)
aggregation map-side-combines to T rows per partition before the
shuffle. Total shuffled volume: T rows per map partition, independent
of corpus size. No UDFs, no collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_sweep(
    df: DataFrame,
    label_col: str,
    score_col: str,
    thresholds: Sequence[float],
) -> DataFrame:
    """Confusion counts + precision/recall/F1/accuracy at each score
    threshold (predict positive when ``score >= threshold``).

    Returns one row per threshold: (threshold, tp, fp, fn, tn,
    precision, recall, f1, accuracy); zero-denominator metrics emit
    0.0. Null labels/scores are excluded (counted in none of the
    cells)."""
    e = (
        df.select(
            F.col(label_col).cast("boolean").alias("__y"),
            F.col(score_col).cast("double").alias("__s"),
        )
        .filter(F.col("__y").isNotNull() & F.col("__s").isNotNull())
        .select(
            "__y",
            "__s",
            F.explode(
                F.array(*[F.lit(float(t)) for t in thresholds])
            ).alias("threshold"),
        )
    )
    pred = F.col("__s") >= F.col("threshold")
    y = F.col("__y")
    agg = e.groupBy("threshold").agg(
        F.sum((pred & y).cast("long")).alias("tp"),
        F.sum((pred & ~y).cast("long")).alias("fp"),
        F.sum((~pred & y).cast("long")).alias("fn"),
        F.sum((~pred & ~y).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(0.0)
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(0.0)
    f1 = F.when(2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn)).otherwise(0.0)
    acc = F.when(
        tp + fp + fn + tn > 0, (tp + tn) / (tp + fp + fn + tn)
    ).otherwise(0.0)
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
        acc.alias("accuracy"),
    )


def oracle_confusion_sweep_sql(
    rows_sql: str,
    label_col: str,
    score_col: str,
    thresholds: Sequence[float],
) -> str:
    """DuckDB twin of :func:`confusion_sweep` over ``rows_sql``."""
    th_list = ", ".join(repr(float(t)) for t in thresholds)
    return f"""
WITH rows_in AS ({rows_sql}),
th AS (SELECT unnest([{th_list}]::double[]) AS threshold),
e AS (
  SELECT th.threshold,
         ({label_col})::boolean AS y,
         ({score_col})::double AS s
  FROM rows_in, th
  WHERE ({label_col}) IS NOT NULL AND ({score_col}) IS NOT NULL
),
agg AS (
  SELECT threshold,
         sum((s >= threshold AND y)::int)::bigint AS tp,
         sum((s >= threshold AND NOT y)::int)::bigint AS fp,
         sum((s < threshold AND y)::int)::bigint AS fn,
         sum((s < threshold AND NOT y)::int)::bigint AS tn
  FROM e GROUP BY threshold
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN tp::double / (tp + fp) ELSE 0.0 END
         AS precision,
       CASE WHEN tp + fn > 0 THEN tp::double / (tp + fn) ELSE 0.0 END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN 2 * tp::double / (2 * tp + fp + fn) ELSE 0.0 END AS f1,
       CASE WHEN tp + fp + fn + tn > 0
            THEN (tp + tn)::double / (tp + fp + fn + tn)
            ELSE 0.0 END AS accuracy
FROM agg
"""


def rule_ablation(df: DataFrame, rule_cols: Sequence[str]) -> DataFrame:
    """Leave-one-out ablation over boolean fail-rule columns — the
    standard filter-tuning diagnostic: what does each rule cost the
    corpus, and what does it catch that nothing else catches?

    For each rule r over documents carrying ``rule_cols`` booleans
    (True = rule fires = drop), emit one row:
      (rule_name, fire_count, sole_drop_count, keep_rate_base,
       keep_rate_without, marginal_keep_gain)
    where ``keep_rate_without`` is the keep rate with r deleted from
    the bank, ``sole_drop_count`` the documents dropped ONLY by r
    (so marginal_keep_gain = sole_drop_count / n_docs), and
    ``keep_rate_base`` the all-rules keep rate (repeated per row for
    context).

    Scale shape: ONE aggregate over the corpus (2R+2 partial-agg
    counters, map-side combined to a single row) followed by a
    row-local explode to R output rows — no per-rule corpus re-scan,
    no shuffle beyond the one-row aggregate. Null rule values count
    as not-fired (the with_verdict coalesce convention).
    """
    fires = {r: F.coalesce(F.col(r), F.lit(False)) for r in rule_cols}
    none_fire = None
    for c in fires.values():
        none_fire = ~c if none_fire is None else (none_fire & ~c)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(none_fire.cast("long")).alias("__kept"),
    ]
    for r, c in fires.items():
        others_quiet = None
        for r2, c2 in fires.items():
            if r2 == r:
                continue
            others_quiet = ~c2 if others_quiet is None else (others_quiet & ~c2)
        if others_quiet is None:  # single-rule bank
            others_quiet = F.lit(True)
        aggs.append(F.sum(c.cast("long")).alias(f"__fire_{r}"))
        aggs.append(
            F.sum((c & others_quiet).cast("long")).alias(f"__sole_{r}")
        )
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(r).alias("rule_name"),
            F.col(f"__fire_{r}").alias("fire_count"),
            F.col(f"__sole_{r}").alias("sole_drop_count"),
            F.round(F.col("__kept") / F.col("__n"), 6).alias("keep_rate_base"),
            F.round(
                (F.col("__kept") + F.col(f"__sole_{r}")) / F.col("__n"), 6
            ).alias("keep_rate_without"),
            F.round(F.col(f"__sole_{r}") / F.col("__n"), 6).alias(
                "marginal_keep_gain"
            ),
        )
        for r in rule_cols
    ]
    return one.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    probabilistic quality classifier (Guo et al. 2017, "On Calibration
    of Modern Neural Networks" — public metric): equal-width bins over
    predicted probability; per bin the count, mean predicted
    probability (confidence) and empirical positive rate (accuracy);
    ECE = Σ_b (n_b/N)·|conf_b − acc_b| replicated on every row so one
    query returns the whole diagnostic.

    A filter whose scores are used as sampling weights or thresholds
    downstream (CCNet buckets, DSIR resampling) needs calibrated
    probabilities, not just rank order — this is the check.

    ONE groupBy over the scored frame (map-side-combined to ≤ n_bins
    rows per partition) + a broadcast 1-row ECE join. Probabilities
    exactly 1.0 land in the last bin. Returns (bin, bin_lo, n, conf,
    acc, abs_gap, ece).
    """
    b = F.least(
        F.floor(F.col(prob_col) * F.lit(n_bins)).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    per_bin = (
        df.select(
            b.alias("bin"),
            F.col(prob_col).alias("__p"),
            F.col(label_col).cast("double").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__p").alias("conf"),
            F.avg("__y").alias("acc"),
        )
        .withColumn("abs_gap", F.abs(F.col("conf") - F.col("acc")))
        .withColumn("bin_lo", F.col("bin").cast("double") / F.lit(n_bins))
    )
    ece = F.broadcast(
        per_bin.agg(
            (
                F.sum(F.col("n") * F.col("abs_gap")) / F.sum("n")
            ).alias("ece")
        )
    )
    return per_bin.crossJoin(ece).select(
        "bin", "bin_lo", "n", "conf", "acc", "abs_gap", "ece"
    )


def isotonic_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (PAV) recalibration of a quality classifier's scores,
    fit on equal-width score bins — the standard post-hoc calibration
    map (Zadrozny & Elkan 2002, public method) that CCNet-style bucket
    thresholds and DSIR-style sampling weights need when the raw
    classifier is mis-calibrated but rank-faithful.

    The corpus-side work is the same ONE groupBy as
    :func:`calibration_bins` (map-side combined to ≤ n_bins rows per
    partition). PAV itself runs on the O(n_bins) bin table via the
    minimax identity — for bins indexed i in score order with weights
    w (counts) and positive mass y:

        iso_i = max_{j≤i} min_{k≥i} (Y[j..k]) / (W[j..k])

    which equals the pool-adjacent-violators fit (Robertson, Wright &
    Dykstra 1988, Thm 1.4.4) without the sequential merge loop, so it
    is pure joins/aggregates over prefix sums and replays verbatim in
    the DuckDB oracle: block sums are differences of exact integer
    prefix sums, so both engines divide identical numerators by
    identical denominators. Triple fan-out is O(n_bins³) rows — bins
    are a constant (10-100), never corpus-scale.

    Returns one row per non-empty bin: (bin, bin_lo, n, rate, iso)
    with iso non-decreasing in bin.
    """
    from pyspark.sql import Window as W

    b = F.least(
        F.floor(F.col(prob_col) * F.lit(n_bins)).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    per_bin = (
        df.select(b.alias("bin"), F.col(label_col).cast("long").alias("__y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("pos"))
    )
    # Prefix sums over the tiny bin table (single-partition window is
    # deliberate: ≤ n_bins rows).
    win = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = per_bin.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(win).alias("cw"),
        F.sum("pos").over(win).alias("cy"),
    )
    lo = pre.select(
        F.col("bin").alias("j"),
        (F.col("cw") - F.col("n")).alias("cw0"),
        (F.col("cy") - F.col("pos")).alias("cy0"),
    )
    hi = pre.select(
        F.col("bin").alias("k"), F.col("cw").alias("cw1"), F.col("cy").alias("cy1")
    )
    blocks = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cy1") - F.col("cy0")) / (F.col("cw1") - F.col("cw0"))
        ).alias("blk_avg"),
    )
    anchors = pre.select(F.col("bin").alias("i"))
    inner = (
        anchors.join(
            blocks, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i"))
        )
        .groupBy("i", "j")
        .agg(F.min("blk_avg").alias("min_avg"))
    )
    iso = inner.groupBy("i").agg(F.max("min_avg").alias("iso"))
    return (
        per_bin.join(iso, per_bin["bin"] == iso["i"])
        .select(
            "bin",
            (F.col("bin").cast("double") / F.lit(n_bins)).alias("bin_lo"),
            "n",
            (F.col("pos").cast("double") / F.col("n")).alias("rate"),
            "iso",
        )
    )


def oracle_isotonic_bins_sql(
    rows_sql: str, prob_col: str, label_col: str, *, n_bins: int = 10
) -> str:
    """DuckDB twin of :func:`isotonic_bins` over ``rows_sql``."""
    return f"""
WITH rows_in AS ({rows_sql}),
per_bin AS (
  SELECT least(floor(({prob_col}) * {n_bins}), {n_bins - 1})::bigint AS bin,
         count(*)::bigint AS n,
         sum(({label_col})::int)::bigint AS pos
  FROM rows_in GROUP BY 1
),
pre AS (
  SELECT bin, n, pos,
         sum(n) OVER (ORDER BY bin) AS cw,
         sum(pos) OVER (ORDER BY bin) AS cy
  FROM per_bin
),
blocks AS (
  SELECT l.bin AS j, h.bin AS k,
         (h.cy - (l.cy - l.pos))::double
           / (h.cw - (l.cw - l.n)) AS blk_avg
  FROM pre l JOIN pre h ON l.bin <= h.bin
),
inner_min AS (
  SELECT a.bin AS i, b.j, min(b.blk_avg) AS min_avg
  FROM pre a JOIN blocks b ON b.j <= a.bin AND b.k >= a.bin
  GROUP BY 1, 2
),
iso AS (SELECT i, max(min_avg) AS iso FROM inner_min GROUP BY 1)
SELECT p.bin, p.bin / {float(n_bins)!r} AS bin_lo, p.n,
       p.pos::double / p.n AS rate, iso.iso
FROM per_bin p JOIN iso ON iso.i = p.bin
"""


def pairwise_kappa(df: DataFrame, verdict_cols: Sequence[str]) -> DataFrame:
    """Cohen's κ between every pair of boolean verdict columns — the
    inter-rater agreement matrix for a filter ensemble (heuristic
    rules vs NB vs logreg classifiers): κ = (p_o − p_e)/(1 − p_e) with
    p_o the observed agreement rate and p_e the chance rate from the
    two raters' marginals (Cohen 1960, public metric). Ensembles whose
    members agree at chance level add signal; near-κ=1 members are
    redundant.

    ONE aggregate over the corpus (4 counters per pair + a shared
    total, map-side combined to a single row) then a row-local explode
    to the O(P²) pair rows — no per-pair rescan. Rows where either
    verdict is NULL are excluded from that pair's counts. κ is 0.0
    when 1 − p_e = 0 (both raters constant). Returns (rater_a,
    rater_b, n, po, pe, kappa).
    """
    pairs = [
        (a, b)
        for idx, a in enumerate(verdict_cols)
        for b in list(verdict_cols)[idx + 1 :]
    ]
    aggs = []
    for a, b in pairs:
        ca, cb = F.col(a).cast("boolean"), F.col(b).cast("boolean")
        ok = ca.isNotNull() & cb.isNotNull()
        tag = f"{a}__{b}"
        aggs += [
            F.sum((ok & ca & cb).cast("long")).alias(f"__b11_{tag}"),
            F.sum((ok & ca & ~cb).cast("long")).alias(f"__b10_{tag}"),
            F.sum((ok & ~ca & cb).cast("long")).alias(f"__b01_{tag}"),
            F.sum((ok & ~ca & ~cb).cast("long")).alias(f"__b00_{tag}"),
        ]
    one = df.agg(*aggs)
    structs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n11, n10, n01, n00 = (
            F.col(f"__b11_{tag}"),
            F.col(f"__b10_{tag}"),
            F.col(f"__b01_{tag}"),
            F.col(f"__b00_{tag}"),
        )
        n = n11 + n10 + n01 + n00
        po = (n11 + n00) / n
        # marginal-rate form — (n11+n10)*(n11+n01) would overflow
        # bigint near 10^12 rows; each factor here is a double in [0,1]
        pe = ((n11 + n10) / n) * ((n11 + n01) / n) + ((n01 + n00) / n) * (
            (n10 + n00) / n
        )
        kappa = F.when(
            pe < F.lit(1.0), (po - pe) / (F.lit(1.0) - pe)
        ).otherwise(F.lit(0.0))
        structs.append(
            F.struct(
                F.lit(a).alias("rater_a"),
                F.lit(b).alias("rater_b"),
                n.alias("n"),
                po.alias("po"),
                pe.alias("pe"),
                kappa.alias("kappa"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def oracle_pairwise_kappa_sql(
    rows_sql: str, verdict_cols: Sequence[str]
) -> str:
    """DuckDB twin of :func:`pairwise_kappa` over ``rows_sql``."""
    pairs = [
        (a, b)
        for idx, a in enumerate(verdict_cols)
        for b in list(verdict_cols)[idx + 1 :]
    ]
    selects = []
    for a, b in pairs:
        selects.append(f"""
SELECT '{a}' AS rater_a, '{b}' AS rater_b, n, po, pe,
       CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) ELSE 0.0 END AS kappa
FROM (
  SELECT n11 + n10 + n01 + n00 AS n,
         (n11 + n00) / (n11 + n10 + n01 + n00) AS po,
         ((n11 + n10) / (n11 + n10 + n01 + n00))
           * ((n11 + n01) / (n11 + n10 + n01 + n00))
         + ((n01 + n00) / (n11 + n10 + n01 + n00))
           * ((n10 + n00) / (n11 + n10 + n01 + n00)) AS pe
  FROM (
    SELECT sum((a AND b)::int)::bigint AS n11,
           sum((a AND NOT b)::int)::bigint AS n10,
           sum((NOT a AND b)::int)::bigint AS n01,
           sum((NOT a AND NOT b)::int)::bigint AS n00
    FROM (SELECT ({a})::boolean AS a, ({b})::boolean AS b FROM rows_in)
    WHERE a IS NOT NULL AND b IS NOT NULL
  )
)""")
    union = "\nUNION ALL\n".join(f"({s})" for s in selects)
    return f"WITH rows_in AS ({rows_sql})\n{union}"


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact tie-corrected ROC AUC via the rank-sum (Mann-Whitney)
    identity — the threshold-free companion to :func:`confusion_sweep`
    for choosing between candidate quality classifiers:

        AUC = (R1 - N1(N1+1)/2) / (N1 * N0)

    with R1 the sum of positive midranks over the pooled scores
    (tied scores share the average rank, so AUC counts ties as 1/2 —
    the probabilistic definition P(s+ > s-) + 0.5*P(s+ = s-)).

    Returns ONE row: (n_pos, n_neg, auc, gini) with gini = 2*AUC - 1.

    Scale design (10^12 docs): the corpus collapses in ONE
    map-side-combined groupBy(score) to O(distinct scores) rows; the
    midrank window runs over that collapsed table (same design as
    drift.py:mannwhitney_from_counts — callers bucket/round the score
    when its cardinality is corpus-like, exactly as the gate query
    rounds log-odds to 6dp). Null labels/scores are excluded.
    """
    from pyspark.sql import Window as W

    g = (
        df.select(
            F.col(score_col).cast("double").alias("s"),
            F.col(label_col).cast("boolean").alias("y"),
        )
        .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
        .groupBy("s")
        .agg(
            F.sum(F.col("y").cast("long")).alias("n1"),
            F.sum((~F.col("y")).cast("long")).alias("n0"),
        )
    )
    from .windows import running_sums

    r = running_sums(
        g.withColumn("__nt", F.col("n1") + F.col("n0")), ["s"], ["__nt"]
    )
    ranked = r.select(
        "n1",
        "n0",
        (
            (F.col("__cum___nt") - F.col("__nt")).cast("double")
            + (F.col("__nt") + 1).cast("double") / F.lit(2.0)
        ).alias("midrank"),
    )
    tot = ranked.agg(
        F.sum("n1").cast("bigint").alias("n_pos"),
        F.sum("n0").cast("bigint").alias("n_neg"),
        F.sum(F.col("n1").cast("double") * F.col("midrank")).alias("r1"),
    )
    auc = (
        F.col("r1")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1).cast("double") / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return tot.select(
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        (F.lit(2.0) * auc - F.lit(1.0)).alias("gini"),
    )


def oracle_roc_auc_sql(rows_sql: str, score_col: str, label_col: str) -> str:
    """DuckDB twin of :func:`roc_auc` over ``rows_sql``."""
    return f"""
WITH rows_in AS ({rows_sql}),
g AS (
  SELECT ({score_col})::double AS s,
         sum(({label_col})::int)::bigint AS n1,
         sum((NOT ({label_col}))::int)::bigint AS n0
  FROM rows_in
  WHERE ({score_col}) IS NOT NULL AND ({label_col}) IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT n1, n0,
         (sum(n1 + n0) OVER (ORDER BY s) - (n1 + n0))::double
           + (n1 + n0 + 1)::double / 2.0 AS midrank
  FROM g
),
tot AS (
  SELECT sum(n1)::bigint AS n_pos, sum(n0)::bigint AS n_neg,
         sum(n1::double * midrank) AS r1
  FROM ranked
)
SELECT n_pos, n_neg,
       (r1 - n_pos::double * (n_pos + 1)::double / 2.0)
         / (n_pos::double * n_neg::double) AS auc,
       2.0 * ((r1 - n_pos::double * (n_pos + 1)::double / 2.0)
         / (n_pos::double * n_neg::double)) - 1.0 AS gini
FROM tot"""


def multiclass_prf(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 for a multiclass classifier —
    the evaluation table for the language-ID stage (predicted lang vs
    stored lang): which languages the heuristic confuses, and in which
    direction.

    Returns one row per class appearing in EITHER column:
    (cls, support, predicted, tp, precision, recall, f1), with
    zero-denominator metrics emitted as 0.0 and null labels/preds
    excluded.

    Scale design (10^12 docs): ONE groupBy(label, pred) map-side
    combines the corpus to O(k^2) confusion cells; every per-class
    number is a re-aggregation of that tiny table (full-outer join of
    the label-total and pred-total views so one-sided classes keep a
    row). No second corpus pass.
    """
    conf = (
        df.select(
            F.col(label_col).cast("string").alias("lbl"),
            F.col(pred_col).cast("string").alias("prd"),
        )
        .filter(F.col("lbl").isNotNull() & F.col("prd").isNotNull())
        .groupBy("lbl", "prd")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    by_label = conf.groupBy("lbl").agg(
        F.sum("n").alias("support"),
        F.sum(F.when(F.col("prd") == F.col("lbl"), F.col("n")).otherwise(F.lit(0))).alias(
            "tp_l"
        ),
    )
    by_pred = conf.groupBy("prd").agg(F.sum("n").alias("predicted"))
    full = by_label.join(
        by_pred, by_label["lbl"] == by_pred["prd"], "full_outer"
    ).select(
        F.coalesce(F.col("lbl"), F.col("prd")).alias("cls"),
        F.coalesce(F.col("support"), F.lit(0)).cast("bigint").alias("support"),
        F.coalesce(F.col("predicted"), F.lit(0)).cast("bigint").alias("predicted"),
        F.coalesce(F.col("tp_l"), F.lit(0)).cast("bigint").alias("tp"),
    )
    precision = F.when(
        F.col("predicted") > 0, F.col("tp").cast("double") / F.col("predicted")
    ).otherwise(F.lit(0.0))
    recall = F.when(
        F.col("support") > 0, F.col("tp").cast("double") / F.col("support")
    ).otherwise(F.lit(0.0))
    return full.select(
        "cls",
        "support",
        "predicted",
        "tp",
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(
            precision + recall > 0,
            F.lit(2.0) * precision * recall / (precision + recall),
        )
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


def oracle_multiclass_prf_sql(rows_sql: str, label_col: str, pred_col: str) -> str:
    """DuckDB twin of :func:`multiclass_prf` over ``rows_sql``."""
    return f"""
WITH rows_in AS ({rows_sql}),
conf AS (
  SELECT ({label_col})::varchar AS lbl, ({pred_col})::varchar AS prd,
         count(*) AS n
  FROM rows_in
  WHERE ({label_col}) IS NOT NULL AND ({pred_col}) IS NOT NULL
  GROUP BY 1, 2
),
by_label AS (
  SELECT lbl, sum(n) AS support,
         sum(CASE WHEN prd = lbl THEN n ELSE 0 END) AS tp_l
  FROM conf GROUP BY 1
),
by_pred AS (SELECT prd, sum(n) AS predicted FROM conf GROUP BY 1),
allcls AS (
  SELECT coalesce(lbl, prd) AS cls,
         coalesce(support, 0)::bigint AS support,
         coalesce(predicted, 0)::bigint AS predicted,
         coalesce(tp_l, 0)::bigint AS tp
  FROM by_label FULL OUTER JOIN by_pred ON lbl = prd
)
SELECT cls, support, predicted, tp,
       CASE WHEN predicted > 0 THEN tp::double / predicted ELSE 0.0 END AS precision,
       CASE WHEN support > 0 THEN tp::double / support ELSE 0.0 END AS recall,
       CASE WHEN (CASE WHEN predicted > 0 THEN tp::double / predicted ELSE 0.0 END)
               + (CASE WHEN support > 0 THEN tp::double / support ELSE 0.0 END) > 0
            THEN 2.0 * (CASE WHEN predicted > 0 THEN tp::double / predicted ELSE 0.0 END)
                     * (CASE WHEN support > 0 THEN tp::double / support ELSE 0.0 END)
                 / ((CASE WHEN predicted > 0 THEN tp::double / predicted ELSE 0.0 END)
                    + (CASE WHEN support > 0 THEN tp::double / support ELSE 0.0 END))
            ELSE 0.0 END AS f1
FROM allcls"""


def pairwise_mi(df: DataFrame, verdict_cols: Sequence[str]) -> DataFrame:
    """Mutual information (nats) between every pair of boolean verdict
    columns, plus marginal entropies and the geometric-mean-normalized
    NMI — the information-theoretic companion to :func:`pairwise_kappa`:
    κ measures agreement on the SAME polarity, MI also catches raters
    that are informative because they systematically DISAGREE (κ near
    -1, MI high), which a κ-only redundancy screen misreads as "adds
    signal".

    Same scale shape as pairwise_kappa: ONE aggregate (4 counters per
    pair, map-side combined), row-local explode; marginal-rate (double)
    arithmetic so nothing overflows at 10^12 rows. Zero cells follow
    0·ln0 = 0; NMI is 0.0 when either marginal entropy is 0 (constant
    rater). Returns (rater_a, rater_b, n, mi, h_a, h_b, nmi).
    """
    pairs = [
        (a, b)
        for idx, a in enumerate(verdict_cols)
        for b in list(verdict_cols)[idx + 1 :]
    ]
    aggs = []
    for a, b in pairs:
        ca, cb = F.col(a).cast("boolean"), F.col(b).cast("boolean")
        ok = ca.isNotNull() & cb.isNotNull()
        tag = f"{a}__{b}"
        aggs += [
            F.sum((ok & ca & cb).cast("long")).alias(f"__m11_{tag}"),
            F.sum((ok & ca & ~cb).cast("long")).alias(f"__m10_{tag}"),
            F.sum((ok & ~ca & cb).cast("long")).alias(f"__m01_{tag}"),
            F.sum((ok & ~ca & ~cb).cast("long")).alias(f"__m00_{tag}"),
        ]
    one = df.agg(*aggs)

    def _plogp(p):
        return F.when(p > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    def _term(pij, pi, pj):
        return F.when(pij > 0, pij * F.log(pij / (pi * pj))).otherwise(F.lit(0.0))

    structs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n11, n10, n01, n00 = (
            F.col(f"__m11_{tag}"),
            F.col(f"__m10_{tag}"),
            F.col(f"__m01_{tag}"),
            F.col(f"__m00_{tag}"),
        )
        n = n11 + n10 + n01 + n00
        p11, p10, p01, p00 = (n11 / n, n10 / n, n01 / n, n00 / n)
        pa, pb_ = (n11 + n10) / n, (n11 + n01) / n
        mi = (
            _term(p11, pa, pb_)
            + _term(p10, pa, 1 - pb_)
            + _term(p01, 1 - pa, pb_)
            + _term(p00, 1 - pa, 1 - pb_)
        )
        h_a = _plogp(pa) + _plogp(1 - pa)
        h_b = _plogp(pb_) + _plogp(1 - pb_)
        nmi = F.when(
            (h_a > 0) & (h_b > 0), mi / F.sqrt(h_a * h_b)
        ).otherwise(F.lit(0.0))
        structs.append(
            F.struct(
                F.lit(a).alias("rater_a"),
                F.lit(b).alias("rater_b"),
                n.alias("n"),
                mi.alias("mi"),
                h_a.alias("h_a"),
                h_b.alias("h_b"),
                nmi.alias("nmi"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def oracle_pairwise_mi_sql(rows_sql: str, verdict_cols: Sequence[str]) -> str:
    """DuckDB twin of :func:`pairwise_mi` over ``rows_sql``."""
    pairs = [
        (a, b)
        for idx, a in enumerate(verdict_cols)
        for b in list(verdict_cols)[idx + 1 :]
    ]

    def term(pij, pi, pj):
        return (f"CASE WHEN {pij} > 0 THEN {pij} * ln({pij} / (({pi}) * ({pj}))) "
                f"ELSE 0.0 END")

    def plogp(p):
        return f"CASE WHEN {p} > 0 THEN -({p}) * ln({p}) ELSE 0.0 END"

    selects = []
    for a, b in pairs:
        mi = " + ".join(
            [
                term("p11", "pa", "pb"),
                term("p10", "pa", "1 - pb"),
                term("p01", "1 - pa", "pb"),
                term("p00", "1 - pa", "1 - pb"),
            ]
        )
        h_a = f"{plogp('pa')} + {plogp('1 - pa')}"
        h_b = f"{plogp('pb')} + {plogp('1 - pb')}"
        selects.append(f"""
SELECT '{a}' AS rater_a, '{b}' AS rater_b, n,
       {mi} AS mi, {h_a} AS h_a, {h_b} AS h_b,
       CASE WHEN ({h_a}) > 0 AND ({h_b}) > 0
            THEN ({mi}) / sqrt(({h_a}) * ({h_b})) ELSE 0.0 END AS nmi
FROM (
  SELECT n11 + n10 + n01 + n00 AS n,
         n11 / (n11 + n10 + n01 + n00) AS p11,
         n10 / (n11 + n10 + n01 + n00) AS p10,
         n01 / (n11 + n10 + n01 + n00) AS p01,
         n00 / (n11 + n10 + n01 + n00) AS p00,
         (n11 + n10) / (n11 + n10 + n01 + n00) AS pa,
         (n11 + n01) / (n11 + n10 + n01 + n00) AS pb
  FROM (
    SELECT sum((a AND b)::int)::bigint AS n11,
           sum((a AND NOT b)::int)::bigint AS n10,
           sum((NOT a AND b)::int)::bigint AS n01,
           sum((NOT a AND NOT b)::int)::bigint AS n00
    FROM (SELECT ({a})::boolean AS a, ({b})::boolean AS b FROM rows_in)
    WHERE a IS NOT NULL AND b IS NOT NULL
  )
)""")
    union = "\nUNION ALL\n".join(f"({s})" for s in selects)
    return f"WITH rows_in AS ({rows_sql})\n{union}"


def conformal_keep_threshold(
    df: DataFrame,
    score_col: str,
    calib_col: str,
    *,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal quality-filter threshold: given a calibration
    cohort of documents KNOWN to be good (``calib_col`` true — e.g. a
    curated seed set riding along in the corpus), pick the keep
    threshold t such that a fresh good document passes ``score >= t``
    with probability >= 1 - alpha, distribution-free and with the
    finite-sample (n+1) correction (Vovk's split conformal: t is the
    k-th LARGEST calibration score, k = ceil((n+1)(1-alpha));
    nonconformity = -score). Unlike a quantile eyeballed on the whole
    corpus, the guarantee is about the GOOD docs you'd wrongly drop —
    the quantity a filter recipe actually budgets.

    Returns one row: (alpha, n_cal, k, threshold, total_docs,
    kept_docs, kept_frac), or zero rows when `df` is empty (matching
    the DuckDB twin's GROUP BY). threshold is NULL when k > n
    (calibration set too small for the requested coverage) — then
    every document is kept.

    Scale design: the calibration cohort is seed-set-sized by
    construction, so its count and its k-th order statistic
    (TakeOrderedAndProject via orderBy+limit — no global window, no
    warning) are cheap exact jobs; the corpus-side work is ONE
    row-local comparison + count aggregate with the 1-row threshold
    broadcast. The corpus is never sorted or shuffled.
    """
    import math

    s = F.col(score_col).cast("double")
    cal = df.filter(F.col(calib_col) & s.isNotNull()).select(s.alias("s"))
    n = int(cal.count())
    k = int(math.ceil((n + 1) * (1.0 - float(alpha))))
    spark = df.sparkSession
    if k > n:
        thr = spark.range(1).select(
            F.lit(None).cast("double").alias("threshold")
        )
    else:
        thr = (
            cal.orderBy(F.desc("s"))
            .limit(k)
            .agg(F.min("s").alias("threshold"))
        )
    body = df.select(s.alias("s")).crossJoin(F.broadcast(thr))
    # group by a constant instead of a global agg: zero input rows then
    # produce zero output rows, matching the DuckDB twin's GROUP BY
    # (which emits nothing from an empty corpus) instead of a
    # (0, NULL)-row — the round-5 advisor's empty-corpus parity gap
    return body.groupBy(F.lit(1).alias("__g")).agg(
        F.lit(float(alpha)).alias("alpha"),
        F.lit(n).cast("bigint").alias("n_cal"),
        F.lit(k).cast("bigint").alias("k"),
        F.first("threshold").alias("threshold"),
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(
            (F.col("s") >= F.coalesce(F.col("threshold"), F.lit(-1e308)))
            .cast("int")
        ).cast("bigint").alias("kept_docs"),
        (
            F.sum(
                (F.col("s") >= F.coalesce(F.col("threshold"), F.lit(-1e308)))
                .cast("int")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("kept_frac"),
    ).drop("__g")


def oracle_conformal_keep_threshold_sql(
    rows_sql: str, score_col: str, calib_col: str, *, alpha: float = 0.1
) -> str:
    """DuckDB twin of :func:`conformal_keep_threshold`."""
    a = float(alpha)
    return f"""
WITH rows_in AS ({rows_sql}),
cal AS (
  SELECT ({score_col})::double AS s FROM rows_in
  WHERE {calib_col} AND ({score_col}) IS NOT NULL
),
nk AS (
  SELECT count(*)::bigint AS n,
         ceil((count(*) + 1) * (1.0 - {a!r}))::bigint AS k
  FROM cal
),
ranked AS (SELECT s, row_number() OVER (ORDER BY s DESC) AS rn FROM cal),
thr AS (
  SELECT (SELECT r.s FROM ranked r, nk WHERE r.rn = nk.k) AS threshold
)
SELECT {a!r} AS alpha, nk.n AS n_cal, nk.k AS k, thr.threshold,
       count(*)::bigint AS total_docs,
       sum((({score_col})::double >= coalesce(thr.threshold, -1e308))::int)::bigint
         AS kept_docs,
       sum((({score_col})::double >= coalesce(thr.threshold, -1e308))::int)::double
         / count(*)::double AS kept_frac
FROM rows_in, nk, thr
GROUP BY nk.n, nk.k, thr.threshold"""


def filter_churn(
    df: DataFrame,
    old_keep_col: str,
    new_keep_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Filter-version migration audit: before swapping quality-filter
    v1 for v2, quantify the DECISION churn — per group (source, lang,
    ...): how many docs both keep, v2 newly admits, v2 newly drops —
    plus keep rates and the churn fraction. A v2 with identical
    aggregate keep-rate can still replace a third of the corpus; the
    churn row is what catches that, per source, before the swap.

    Returns one row per group (or one total row when ``group_col`` is
    None): (group?, n, both_keep, gained, lost, old_keep_rate,
    new_keep_rate, churn_frac) with churn = (gained+lost)/n. NULL
    decisions count as drop (a filter that abstains does not keep).

    Scale design: ONE aggregate (4 conditional counters), map-side
    combined; output is O(groups). No join — both decisions ride on
    the same row by construction (score the corpus once with both
    filter versions, then call this).
    """
    o = F.coalesce(F.col(old_keep_col).cast("boolean"), F.lit(False))
    n_ = F.coalesce(F.col(new_keep_col).cast("boolean"), F.lit(False))
    keys = [group_col] if group_col else []
    g = df.groupBy(*keys) if keys else df.groupBy()
    out = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((o & n_).cast("int")).cast("bigint").alias("both_keep"),
        F.sum((~o & n_).cast("int")).cast("bigint").alias("gained"),
        F.sum((o & ~n_).cast("int")).cast("bigint").alias("lost"),
        (F.sum(o.cast("int")) / F.count(F.lit(1))).alias("old_keep_rate"),
        (F.sum(n_.cast("int")) / F.count(F.lit(1))).alias("new_keep_rate"),
        (
            (F.sum((~o & n_).cast("int")) + F.sum((o & ~n_).cast("int")))
            / F.count(F.lit(1))
        ).alias("churn_frac"),
    )
    return out


def oracle_filter_churn_sql(
    rows_sql: str,
    old_keep_col: str,
    new_keep_col: str,
    group_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`filter_churn` over ``rows_sql``."""
    sel = f"{group_col}, " if group_col else ""
    grp = f"GROUP BY {group_col}" if group_col else ""
    return f"""
WITH rows_in AS ({rows_sql}),
d AS (
  SELECT *, coalesce(({old_keep_col})::boolean, false) AS o,
         coalesce(({new_keep_col})::boolean, false) AS nw
  FROM rows_in
)
SELECT {sel}count(*)::bigint AS n,
       sum((o AND nw)::int)::bigint AS both_keep,
       sum((NOT o AND nw)::int)::bigint AS gained,
       sum((o AND NOT nw)::int)::bigint AS lost,
       sum(o::int)::double / count(*) AS old_keep_rate,
       sum(nw::int)::double / count(*) AS new_keep_rate,
       (sum((NOT o AND nw)::int) + sum((o AND NOT nw)::int))::double
         / count(*) AS churn_frac
FROM d {grp}"""


def mcnemar_filters(
    df: DataFrame,
    old_keep_col: str,
    new_keep_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """McNemar's paired significance test between two filter versions
    (McNemar 1947; the paired counterpart of the chi-square drift
    tests): on the SAME documents, is v2's keep/drop decision
    systematically different from v1's, or is the churn symmetric
    noise? Uses only the discordant cells — b = v1-keep/v2-drop,
    c = v1-drop/v2-keep — with the Edwards continuity correction:

        chi2 = (|b − c| − 1)² / (b + c)        (df = 1)

    filter_churn quantifies HOW MUCH decision churn a swap causes;
    this says whether the churn has a DIRECTION (chi2 ≳ 3.84 at
    α=0.05 ⇒ v2 is systematically stricter or looser, not just
    reshuffling). NULL decisions count as drop, matching
    filter_churn. Returns one row per group (or one total row):
    (group?, n, b_lost, c_gained, chi2) — chi2 NULL when b + c = 0
    (no discordant pairs, test undefined).

    Scale design: ONE aggregate (2 conditional counters), map-side
    combined, O(groups) output; both decisions ride the same row —
    no join.
    """
    o = F.coalesce(F.col(old_keep_col).cast("boolean"), F.lit(False))
    n_ = F.coalesce(F.col(new_keep_col).cast("boolean"), F.lit(False))
    keys = [group_col] if group_col else []
    g = df.groupBy(*keys) if keys else df.groupBy()
    b = F.sum((o & ~n_).cast("int")).cast("bigint")
    c = F.sum((~o & n_).cast("int")).cast("bigint")
    return g.agg(
        F.count(F.lit(1)).alias("n"),
        b.alias("b_lost"),
        c.alias("c_gained"),
        F.when(
            (b + c) > 0,
            F.pow(F.abs(b - c).cast("double") - 1.0, 2)
            / (b + c).cast("double"),
        ).alias("chi2"),
    )


def oracle_mcnemar_sql(
    rows_sql: str,
    old_keep_col: str,
    new_keep_col: str,
    group_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`mcnemar_filters`."""
    sel = f"{group_col}, " if group_col else ""
    grp = f"GROUP BY {group_col}" if group_col else ""
    return f"""
WITH rows_in AS ({rows_sql}),
d AS (
  SELECT *, coalesce(({old_keep_col})::boolean, false) AS o,
         coalesce(({new_keep_col})::boolean, false) AS nw
  FROM rows_in
),
a AS (
  SELECT {sel}count(*)::bigint AS n,
         sum(CASE WHEN o AND NOT nw THEN 1 ELSE 0 END)::bigint AS b_lost,
         sum(CASE WHEN NOT o AND nw THEN 1 ELSE 0 END)::bigint AS c_gained
  FROM d {grp}
)
SELECT {sel}n, b_lost, c_gained,
       CASE WHEN b_lost + c_gained > 0
            THEN pow(abs(b_lost - c_gained)::double - 1.0, 2)
                 / (b_lost + c_gained)::double END AS chi2
FROM a"""


def rule_shapley_attribution(
    df: DataFrame, rule_cols: list[str]
) -> DataFrame:
    """Fair per-rule responsibility for dropped documents. Rules
    compose as a veto game (a doc is dropped iff ≥1 rule fires), so a
    rule's exact Shapley value for a given dropped doc is 1/|firing
    rules on that doc| — co-firing rules split the credit equally,
    unlike rule_fire_rates, which double-counts every overlap and can
    make two redundant rules each look like they remove 30% of the
    corpus when together they remove 30% total.

    Returns one row per rule: (rule, n_fires, drop_credit,
    credit_share) where Σ drop_credit over rules = total dropped docs
    exactly, and credit_share = drop_credit / total drops (NULL when
    nothing is dropped). NULL flags count as not-fired.

    Scale design: ONE corpus aggregate (2k+1 conditional counters for
    k rules — k is a config-sized constant), map-side combined,
    single-row shuffle; per-rule rows are unioned k tiny selects off
    the one agg row, never a corpus explode.
    """
    fires = {c: F.coalesce(F.col(c).cast("boolean"), F.lit(False))
             for c in rule_cols}
    nf = sum((fires[c].cast("int") for c in rule_cols), F.lit(0))
    aggs = [F.count(F.lit(1)).alias("__n"),
            F.sum((nf > 0).cast("int")).cast("bigint").alias("__drops")]
    for c in rule_cols:
        aggs.append(F.sum(fires[c].cast("int")).cast("bigint")
                    .alias(f"__f_{c}"))
        aggs.append(
            F.sum(F.when(fires[c], 1.0 / nf.cast("double")).otherwise(0.0))
            .alias(f"__s_{c}")
        )
    one = df.agg(*aggs)
    parts = []
    for c in rule_cols:
        parts.append(one.select(
            F.lit(c).alias("rule"),
            F.col(f"__f_{c}").alias("n_fires"),
            F.col(f"__s_{c}").alias("drop_credit"),
            F.when(F.col("__drops") > 0,
                   F.col(f"__s_{c}") / F.col("__drops").cast("double"))
            .alias("credit_share"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def oracle_rule_shapley_sql(rows_sql: str, rule_cols: list[str]) -> str:
    """DuckDB twin of :func:`rule_shapley_attribution`."""
    nf = " + ".join(
        f"coalesce(({c})::boolean, false)::int" for c in rule_cols
    )
    aggs = [f"count(*)::bigint AS n",
            f"sum(CASE WHEN ({nf}) > 0 THEN 1 ELSE 0 END)::bigint AS drops"]
    for c in rule_cols:
        aggs.append(
            f"sum(coalesce(({c})::boolean, false)::int)::bigint AS f_{c}")
        aggs.append(
            f"sum(CASE WHEN coalesce(({c})::boolean, false) "
            f"THEN 1.0 / ({nf})::double ELSE 0.0 END) AS s_{c}")
    parts = [
        f"SELECT '{c}' AS rule, f_{c} AS n_fires, s_{c} AS drop_credit, "
        f"CASE WHEN drops > 0 THEN s_{c} / drops::double END "
        f"AS credit_share FROM a"
        for c in rule_cols
    ]
    return (f"WITH rows_in AS ({rows_sql}),\n"
            f"a AS (SELECT {', '.join(aggs)} FROM rows_in)\n"
            + "\nUNION ALL\n".join(parts))


def keep_rate_by_score_decile(
    df: DataFrame, score_col: str, keep_col: str, n_buckets: int = 10
) -> DataFrame:
    """Filter-calibration audit: keep rate per exact score decile —
    the 'is my quality filter just a length proxy?' curve. A filter
    whose keep rate climbs monotonically with a cheap feature is that
    feature in disguise; a calibrated one is flat-ish with a cliff at
    the rule boundary.

    Deciles are exact ECDF buckets: bucket(s) = min(ceil(F(s)·B), B)
    with F the inclusive ECDF, so ties share a bucket and buckets are
    reproducible across engines (no ntile order-tie ambiguity).
    Returns (bucket, n, kept, keep_rate, score_min, score_max); NULL
    scores are excluded, NULL keeps count as drop.

    Scale design: the corpus collapses in ONE (score) groupBy
    carrying (count, kept-count); the ECDF window runs over the
    collapsed distinct-score table (bounded-score-cardinality
    contract, same as selection.grouped_score_ecdf — bucket
    corpus-cardinality scores first), then one O(distinct-scores)
    re-aggregation. No corpus-scale window, no second corpus pass.
    """
    from pyspark.sql import Window as W

    s = df.select(
        F.col(score_col).cast("double").alias("s"),
        F.coalesce(F.col(keep_col).cast("boolean"), F.lit(False))
        .cast("int").alias("k"),
    ).filter(F.col("s").isNotNull())
    g = s.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("kept")
    )
    from .windows import running_sums

    e = running_sums(g, ["s"], ["cnt"]).select(
        "s", "cnt", "kept",
        (F.col("__cum_cnt").cast("double")
         / F.col("__tot_cnt").cast("double")).alias("ecdf"),
    )
    b = F.least(F.ceil(F.col("ecdf") * n_buckets), F.lit(n_buckets))
    return (
        e.groupBy(b.cast("int").alias("bucket"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n"),
            F.sum("kept").cast("bigint").alias("kept"),
            (F.sum("kept").cast("double") / F.sum("cnt").cast("double"))
            .alias("keep_rate"),
            F.min("s").alias("score_min"),
            F.max("s").alias("score_max"),
        )
    )


def oracle_keep_rate_decile_sql(
    rows_sql: str, score_col: str, keep_col: str, n_buckets: int = 10
) -> str:
    """DuckDB twin of :func:`keep_rate_by_score_decile`."""
    return f"""
WITH rows_in AS ({rows_sql}),
s AS (
  SELECT ({score_col})::double AS s,
         coalesce(({keep_col})::boolean, false)::int AS k
  FROM rows_in WHERE ({score_col}) IS NOT NULL
),
g AS (SELECT s, count(*) AS cnt, sum(k) AS kept FROM s GROUP BY 1),
e AS (
  SELECT s, cnt, kept,
         sum(cnt) OVER (ORDER BY s)::double
           / sum(cnt) OVER ()::double AS ecdf
  FROM g
)
SELECT least(ceil(ecdf * {n_buckets}), {n_buckets})::int AS bucket,
       sum(cnt)::bigint AS n, sum(kept)::bigint AS kept,
       sum(kept)::double / sum(cnt)::double AS keep_rate,
       min(s) AS score_min, max(s) AS score_max
FROM e GROUP BY 1"""


def dawid_skene_binary(
    df: DataFrame, rater_cols: list[str], n_iter: int = 2
) -> DataFrame:
    """Dawid-Skene EM (1979) over binary raters — per-filter
    sensitivity/specificity WITHOUT ground truth. Treat each quality
    rule / filter version / annotator as a noisy rater of the latent
    keep label: initialize each document's posterior q as the majority
    fraction, then alternate (M) re-estimating the prior and each
    rater's sensitivity = P(vote|keep) and specificity =
    P(no-vote|drop) under q, (E) recomputing q from the rater
    parameters. A rater that mostly agrees with the consensus earns
    high sens/spec and more weight next round; a contrarian one is
    down-weighted — unlike kappa/MI, which only compare rater PAIRS.

    ``n_iter`` M-steps with an E-step between consecutive ones
    (q0 → M1 → E1 → M2 → … → report the last M). Laplace smoothing
    (+1/+2) keeps every log finite. NULL votes count as no-vote.
    Returns one row per rater: (rater, sensitivity, specificity,
    prior) — prior is the corpus P(keep), identical on every row.

    Scale design: each M-step is ONE corpus aggregate (2k+1 counters,
    map-side combined, single-row shuffle) broadcast back for the
    row-local E-step — n_iter is a small constant, so the whole plan
    is n_iter aggregates over one cached projection; no window, no
    per-doc state table. Oracle replays the exact unrolled iterations
    as chained CTEs (same pattern as the BPE/logreg oracles,
    operators/bpe.py:oracle_bpe_cte).
    """
    k = len(rater_cols)
    votes = [
        F.coalesce(F.col(c).cast("boolean"), F.lit(False)).cast("int")
        .alias(f"v{i}")
        for i, c in enumerate(rater_cols)
    ]
    q0 = (
        sum((F.col(f"v{i}") for i in range(k)), F.lit(0)).cast("double")
        / F.lit(float(k))
    ).alias("q")
    cur = df.select(*votes).select("*", q0)

    def m_aggs():
        aggs = [
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.sum("q").alias("__sq"),
        ]
        for i in range(k):
            aggs.append(
                F.sum(F.col("q") * F.col(f"v{i}")).alias(f"__sv{i}")
            )
            aggs.append(
                F.sum((1.0 - F.col("q")) * (1 - F.col(f"v{i}")))
                .alias(f"__su{i}")
            )
        return aggs

    def params(m):
        pi = (F.col("__sq") + 1.0) / (F.col("__n") + 2.0)
        sel = [pi.alias("prior")]
        for i in range(k):
            sel.append(((F.col(f"__sv{i}") + 1.0)
                        / (F.col("__sq") + 2.0)).alias(f"se{i}"))
            sel.append(((F.col(f"__su{i}") + 1.0)
                        / (F.col("__n") - F.col("__sq") + 2.0))
                       .alias(f"sp{i}"))
        return m.select(*sel)

    m = params(cur.agg(*m_aggs()))
    for _ in range(n_iter - 1):
        logit = F.log(F.col("prior") / (1.0 - F.col("prior")))
        for i in range(k):
            on = F.log(F.col(f"se{i}")) - F.log(1.0 - F.col(f"sp{i}"))
            off = F.log(1.0 - F.col(f"se{i}")) - F.log(F.col(f"sp{i}"))
            logit = logit + F.when(F.col(f"v{i}") == 1, on).otherwise(off)
        cur = cur.drop("q").crossJoin(F.broadcast(m)).select(
            *[F.col(f"v{i}") for i in range(k)],
            (1.0 / (1.0 + F.exp(-logit))).alias("q"),
        )
        m = params(cur.agg(*m_aggs()))

    parts = []
    for i, c in enumerate(rater_cols):
        parts.append(m.select(
            F.lit(c).alias("rater"),
            F.col(f"se{i}").alias("sensitivity"),
            F.col(f"sp{i}").alias("specificity"),
            F.col("prior"),
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def oracle_dawid_skene_sql(
    rows_sql: str, rater_cols: list[str], n_iter: int = 2
) -> str:
    """DuckDB twin of :func:`dawid_skene_binary` — exact unrolled EM."""
    k = len(rater_cols)
    vsel = ", ".join(
        f"coalesce(({c})::boolean, false)::int AS v{i}"
        for i, c in enumerate(rater_cols)
    )
    qsum = " + ".join(f"v{i}" for i in range(k))
    ctes = [
        f"d0 AS (SELECT *, ({qsum})::double / {float(k)} AS q "
        f"FROM (SELECT {vsel} FROM ({rows_sql})))"
    ]

    def m_cte(t: int, dsrc: str) -> str:
        cols = ["count(*)::double AS n", "sum(q) AS sq",
                "(sum(q) + 1.0) / (count(*)::double + 2.0) AS prior"]
        for i in range(k):
            cols.append(f"(sum(q * v{i}) + 1.0) / (sum(q) + 2.0) AS se{i}")
            cols.append(
                f"(sum((1.0 - q) * (1 - v{i})) + 1.0)"
                f" / (count(*)::double - sum(q) + 2.0) AS sp{i}"
            )
        return f"m{t} AS (SELECT {', '.join(cols)} FROM {dsrc})"

    ctes.append(m_cte(1, "d0"))
    for t in range(2, n_iter + 1):
        terms = [f"ln(prior / (1.0 - prior))"]
        for i in range(k):
            terms.append(
                f"CASE WHEN v{i} = 1 THEN ln(se{i}) - ln(1.0 - sp{i}) "
                f"ELSE ln(1.0 - se{i}) - ln(sp{i}) END"
            )
        logit = " + ".join(terms)
        vcols = ", ".join(f"v{i}" for i in range(k))
        ctes.append(
            f"d{t-1} AS (SELECT {vcols}, "
            f"1.0 / (1.0 + exp(-({logit}))) AS q "
            f"FROM d{t-2} CROSS JOIN m{t-1})"
        )
        ctes.append(m_cte(t, f"d{t-1}"))
    parts = [
        f"SELECT '{c}' AS rater, se{i} AS sensitivity, "
        f"sp{i} AS specificity, prior FROM m{n_iter}"
        for i, c in enumerate(rater_cols)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(parts)


def keep_rate_parity(
    df: DataFrame,
    group_col: str,
    keep_col: str,
    *,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Filter-fairness audit: per-group keep rate with a Wilson score
    interval, flagged ``disparate`` when the group's interval excludes
    the GLOBAL keep rate — the statistically-honest version of "this
    filter keeps 20% less Swahili" (raw rate gaps on small groups are
    noise; Wilson is the standard small-n binomial interval, Brown,
    Cai & DasGupta 2001). The audit every per-language quality filter
    should ship next to its keep/drop decision (score_ecdf_lang shows
    the score distributions; this tests the DECISIONS).

    Returns (group_col, n, n_kept, keep_rate, ci_lo, ci_hi,
    global_rate, disparate).

    Scale design: ONE map-side-combined groupBy over the corpus; the
    global rate is a 1-row broadcast; the interval is row-local
    closed-form arithmetic on the O(groups) table.
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(keep_col).cast("int")).cast("bigint").alias("n_kept"),
    )
    tot = per.agg(
        (F.sum("n_kept") / F.sum("n")).alias("__g")
    )
    nn = F.col("n").cast("double")
    p = F.col("n_kept") / nn
    z2 = z * z
    denom = 1.0 + z2 / nn
    center = (p + z2 / (2.0 * nn)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1.0 - p) / nn + z2 / (4.0 * nn * nn))
        / denom
    )
    out = per.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n",
        "n_kept",
        F.round(p, 6).alias("keep_rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
        F.round(F.col("__g"), 6).alias("global_rate"),
        (
            (center + half < F.col("__g")) | (center - half > F.col("__g"))
        ).alias("disparate"),
    )
    return out


def oracle_keep_rate_parity_sql(
    rows_sql: str,
    group_col: str,
    keep_col: str,
    *,
    z: float = 1.959963984540054,
) -> str:
    """DuckDB twin of :func:`keep_rate_parity`."""
    return f"""
WITH rows_in AS ({rows_sql}),
per AS (
  SELECT {group_col}, count(*)::bigint AS n,
         sum({keep_col}::int)::bigint AS n_kept
  FROM rows_in GROUP BY 1
),
tot AS (SELECT sum(n_kept)::double / sum(n) AS g FROM per),
w AS (
  SELECT per.*, tot.g,
         n_kept::double / n AS p,
         (n_kept::double / n + {z!r} * {z!r} / (2.0 * n))
           / (1.0 + {z!r} * {z!r} / n) AS center,
         ({z!r} * sqrt((n_kept::double / n) * (1.0 - n_kept::double / n) / n
                       + {z!r} * {z!r} / (4.0 * n::double * n::double)))
           / (1.0 + {z!r} * {z!r} / n) AS half
  FROM per, tot
)
SELECT {group_col}, n, n_kept, round(p, 6) AS keep_rate,
       round(center - half, 6) AS ci_lo, round(center + half, 6) AS ci_hi,
       round(g, 6) AS global_rate,
       (center + half < g OR center - half > g) AS disparate
FROM w"""


def simpson_guard(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    keep_col: str,
    *,
    arm_a,
    arm_b,
) -> DataFrame:
    """Simpson's-paradox guard for filter A/B comparisons: when filter
    B's POOLED keep rate beats filter A's, but B loses (or ties) in
    EVERY stratum, the pooled comparison is a composition artifact —
    arm B simply saw an easier group mix. The stratified truth is the
    Mantel–Haenszel common risk ratio (Σ b_i·n_{a,i}/N_i over
    Σ a_i·n_{b,i}/N_i — the standard fixed-effects pooling), which
    this op reports next to the naive pooled ratio so a recipe change
    is judged on like-for-like strata.

    Returns one row per group: (group_col, n_a, keep_a, rate_a, n_b,
    keep_b, rate_b, group_dir) plus the same three corpus columns on
    every row (pooled_dir, mh_ratio, paradox) — ``paradox`` is true
    when the pooled direction is nonzero and NO stratum moves in that
    direction.

    Scale design: ONE map-side-combined groupBy over the corpus
    builds the per-(group) contingency cells via conditional sums;
    pooled + MH are a second aggregate over the O(groups) table,
    broadcast back as a 1-row frame. Groups present in only one arm
    are excluded from direction/MH (their ratio is undefined) but
    still emitted with their one-sided counts.
    """
    a = (F.col(arm_col) == F.lit(arm_a)).cast("int")
    b = (F.col(arm_col) == F.lit(arm_b)).cast("int")
    k = F.col(keep_col).cast("int")
    per = df.groupBy(group_col).agg(
        F.sum(a).cast("bigint").alias("n_a"),
        F.sum(a * k).cast("bigint").alias("keep_a"),
        F.sum(b).cast("bigint").alias("n_b"),
        F.sum(b * k).cast("bigint").alias("keep_b"),
    )
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    # ANSI mode errors on x/0 — guard every division explicitly
    rate_a = F.when(F.col("n_a") > 0, F.col("keep_a") / F.col("n_a"))
    rate_b = F.when(F.col("n_b") > 0, F.col("keep_b") / F.col("n_b"))
    gdir = F.when(both, F.signum(rate_b - rate_a).cast("int"))
    per = per.select(
        group_col,
        "n_a",
        "keep_a",
        F.round(rate_a, 6).alias("rate_a"),
        "n_b",
        "keep_b",
        F.round(rate_b, 6).alias("rate_b"),
        gdir.alias("group_dir"),
    )
    ni = F.col("n_a") + F.col("n_b")
    tot = per.agg(
        F.sum("keep_a").alias("ka"),
        F.sum("n_a").alias("na"),
        F.sum("keep_b").alias("kb"),
        F.sum("n_b").alias("nb"),
        F.sum(F.when(both, F.col("keep_b") * F.col("n_a") / ni)).alias(
            "mh_num"
        ),
        F.sum(F.when(both, F.col("keep_a") * F.col("n_b") / ni)).alias(
            "mh_den"
        ),
        F.max(F.when(F.col("group_dir") > 0, 1).otherwise(0)).alias("any_up"),
        F.max(F.when(F.col("group_dir") < 0, 1).otherwise(0)).alias(
            "any_down"
        ),
    )
    pooled_dir = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.signum(F.col("kb") / F.col("nb") - F.col("ka") / F.col("na")),
    ).cast("int")
    summary = tot.select(
        pooled_dir.alias("pooled_dir"),
        F.round(
            F.when(F.col("mh_den") > 0, F.col("mh_num") / F.col("mh_den")),
            6,
        ).alias("mh_ratio"),
        (
            (pooled_dir == 1) & (F.col("any_up") == 0)
            | (pooled_dir == -1) & (F.col("any_down") == 0)
        ).alias("paradox"),
    )
    return per.crossJoin(F.broadcast(summary))


def oracle_simpson_guard_sql(
    rows_sql: str,
    group_col: str,
    arm_col: str,
    keep_col: str,
    arm_a,
    arm_b,
) -> str:
    """DuckDB twin of :func:`simpson_guard`."""
    qa = f"'{arm_a}'" if isinstance(arm_a, str) else repr(arm_a)
    qb = f"'{arm_b}'" if isinstance(arm_b, str) else repr(arm_b)
    return f"""
WITH rows_in AS ({rows_sql}),
per AS (
  SELECT {group_col},
         sum(({arm_col} = {qa})::int)::bigint AS n_a,
         sum(({arm_col} = {qa})::int * {keep_col}::int)::bigint AS keep_a,
         sum(({arm_col} = {qb})::int)::bigint AS n_b,
         sum(({arm_col} = {qb})::int * {keep_col}::int)::bigint AS keep_b
  FROM rows_in GROUP BY 1
),
perd AS (
  SELECT *,
         CASE WHEN n_a > 0 AND n_b > 0
              THEN sign(keep_b::double / n_b - keep_a::double / n_a)::int
         END AS group_dir
  FROM per
),
tot AS (
  SELECT sum(keep_a) AS ka, sum(n_a) AS na,
         sum(keep_b) AS kb, sum(n_b) AS nb,
         sum(CASE WHEN n_a > 0 AND n_b > 0
                  THEN keep_b * n_a / (n_a + n_b)::double END) AS mh_num,
         sum(CASE WHEN n_a > 0 AND n_b > 0
                  THEN keep_a * n_b / (n_a + n_b)::double END) AS mh_den,
         max(CASE WHEN group_dir > 0 THEN 1 ELSE 0 END) AS any_up,
         max(CASE WHEN group_dir < 0 THEN 1 ELSE 0 END) AS any_down
  FROM perd
),
summary AS (
  SELECT sign(kb::double / nb - ka::double / na)::int AS pooled_dir,
         round(CASE WHEN mh_den > 0 THEN mh_num / mh_den END, 6)
           AS mh_ratio,
         ((sign(kb::double / nb - ka::double / na) = 1 AND any_up = 0)
          OR (sign(kb::double / nb - ka::double / na) = -1
              AND any_down = 0)) AS paradox
  FROM tot
)
SELECT p.{group_col}, p.n_a, p.keep_a,
       round(CASE WHEN p.n_a > 0 THEN p.keep_a::double / p.n_a END, 6)
         AS rate_a,
       p.n_b, p.keep_b,
       round(CASE WHEN p.n_b > 0 THEN p.keep_b::double / p.n_b END, 6)
         AS rate_b,
       p.group_dir, s.pooled_dir, s.mh_ratio, s.paradox
FROM perd p CROSS JOIN summary s"""


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation with tie-averaged ranks (the textbook
    definition: Pearson over average ranks). The filter-bias
    diagnostic Pearson misses — e.g. perplexity vs document length is
    monotone-but-nonlinear, so a length-biased scorer shows up in
    Spearman while Pearson underreports it. Complements
    feature_corr's Pearson matrix.

    Returns ONE row (n, spearman).

    Scale note: exact Spearman inherently needs a GLOBAL ranking of
    each variable — two single-partition sorts. Fine at the metric/
    sample scale this audit runs at; for corpus-scale columns, rank
    against exact percentile grids first (percentile_profile) and run
    this on the bucketed values.
    """
    from pyspark.sql import Window as W

    pairs = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def avg_rank(c: str) -> DataFrame:
        # average rank of tied values = min_rank + (cnt - 1) / 2
        w = W.orderBy(F.col(c))
        return (
            pairs.groupBy(F.col(c).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .select(
                "__v",
                (
                    F.sum("__c").over(
                        w.orderBy("__v").rowsBetween(
                            W.unboundedPreceding, -1
                        )
                    ).cast("double")
                ).alias("__before"),
                "__c",
            )
            .select(
                F.col("__v").alias(c + "_v"),
                (
                    F.coalesce(F.col("__before"), F.lit(0.0))
                    + 1.0
                    + (F.col("__c") - 1.0) / 2.0
                ).alias(c + "_r"),
            )
        )
    rx, ry = avg_rank("x"), avg_rank("y")
    ranked = (
        pairs.join(F.broadcast(rx), pairs["x"] == rx["x_v"])
        .join(F.broadcast(ry), pairs["y"] == ry["y_v"])
        .select("x_r", "y_r")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.corr("x_r", "y_r"), 6).alias("spearman"),
    )


def oracle_spearman_sql(rows_sql: str, x_col: str, y_col: str) -> str:
    """DuckDB twin of :func:`spearman_corr`."""
    return f"""
WITH rows_in AS (
  SELECT {x_col}::double AS x, {y_col}::double AS y FROM ({rows_sql})
  WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
),
rxv AS (
  SELECT x AS v, count(*) AS c FROM rows_in GROUP BY 1
),
rx AS (
  SELECT v,
         coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + 1.0 + (c - 1.0) / 2.0 AS r
  FROM rxv
),
ryv AS (
  SELECT y AS v, count(*) AS c FROM rows_in GROUP BY 1
),
ry AS (
  SELECT v,
         coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + 1.0 + (c - 1.0) / 2.0 AS r
  FROM ryv
)
SELECT count(*)::bigint AS n, round(corr(rx.r, ry.r), 6) AS spearman
FROM rows_in JOIN rx ON rx.v = rows_in.x JOIN ry ON ry.v = rows_in.y"""
