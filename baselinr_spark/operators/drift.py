"""Statistical drift tests over aggregated cohort distributions.

Recasts /root/reference/baselinr/drift/statistical_tests.py as DataFrame
ops over bucket/category count tables (one row per cohort x bucket).
Where the reference loop-compares two in-memory dicts, we full-outer-join
two cohort distributions and reduce with native
aggregates — the shape that survives 10^12 rows because the inputs here
are already tiny aggregates.

Implemented tests (registry parity with statistical_tests.py:1304-1311):
psi, z_score, chi_square, entropy, top_k — see each function's docstring
for the exact reference semantics. ks_test operates on histogram data via
the same bucket tables (ECDF max-diff, the reference's manual fallback
path statistical_tests.py:344-381).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PSI_FLOOR = 0.0001

#: PSI severity bands, highest first: a score strictly above the bound
#: takes the band; at or below every bound it is "none"
PSI_BANDS = (("high", 0.5), ("medium", 0.3), ("low", 0.2))


# ---------------------------------------------------------------------------
# scipy-free p-value approximations (oracle-expressible: pure arithmetic +
# exp/pow, so the identical formula runs in DuckDB SQL and hash-matches)
# ---------------------------------------------------------------------------

def erf_expr(x):
    """erf via Abramowitz & Stegun 7.1.26 (|err| <= 1.5e-7)."""
    ax = F.abs(x)
    t = F.lit(1.0) / (1.0 + 0.3275911 * ax)
    poly = (
        ((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
         - 0.284496736) * t + 0.254829592
    ) * t
    e = 1.0 - poly * F.exp(-ax * ax)
    return F.when(x >= 0, e).otherwise(-e)


def chi2_sf_expr(chi2, dof):
    """P(X > chi2), X ~ chi-square(dof), via the Wilson-Hilferty cube-root
    normal approximation + A&S erf. The reference computes this with
    scipy when available (statistical_tests.py:858-869); scipy is not in
    this environment, and the approximation holds to ~1e-3 absolute —
    ample for the 0.05 / 0.01 / 0.001 gates."""
    d = dof.cast("double")
    z = (F.pow(chi2 / d, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * d))) / F.sqrt(
        2.0 / (9.0 * d)
    )
    p = 0.5 * (1.0 - erf_expr(z / math.sqrt(2.0)))
    return F.when(
        (dof > 0) & chi2.isNotNull(),
        F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)),
    )


def kolmogorov_sf_expr(d_stat, n_eff, terms: int = 100):
    """Two-sample KS asymptotic p-value: Q_KS(lambda) with
    lambda = (sqrt(n_e) + 0.12 + 0.11/sqrt(n_e)) * D (Numerical Recipes
    14.3.3), n_e = Nb*Nc/(Nb+Nc), Q_KS(l) = 2 * sum_k (-1)^(k-1) e^(-2k^2l^2).
    Mirrors the reference's scipy ks_2samp p-value branch
    (statistical_tests.py:222-260) without scipy."""
    sn = F.sqrt(n_eff.cast("double"))
    lam = (sn + 0.12 + 0.11 / sn) * d_stat
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(terms)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.when(k % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(-2.0 * (k * k).cast("double") * lam * lam),
    )
    # below lam≈0.02 the alternating series needs >100 terms; Q_KS there is
    # 1 to within 1e-15, so short-circuit
    return F.when(lam < 0.02, F.lit(1.0)).otherwise(
        F.least(F.greatest(2.0 * series, F.lit(0.0)), F.lit(1.0))
    )


def psi(
    base: DataFrame,
    cur: DataFrame,
    bucket_col: str = "bucket",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Population Stability Index between two bucket-count tables.

    Reference semantics (statistical_tests.py:588-611): normalize each
    side by its own total (or 1.0), union bucket keys, missing bucket →
    prob floor 1e-4, psi = Σ (p_cur − p_base)·ln(p_cur / p_base).
    Severity (statistical_tests.py:468-477): drift if psi > 0.2;
    high > 0.5, medium > 0.3, else low.

    Returns one row per key group: (key_cols..., psi:double,
    drift:boolean, severity:string).

    Per-side totals are window sums (partition = key_cols), NOT a
    broadcast self-join: a self-join re-executes the whole upstream plan
    (scan + bucket shuffle) once per reference, which at 100 TB doubles
    the corpus reads; the window adds only one exchange of the already
    tiny bucket-count table."""
    key_cols = key_cols or []
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols)

    def _norm(df: DataFrame, p_name: str) -> DataFrame:
        tot = F.sum(count_col).over(w)
        return df.select(
            *key_cols,
            F.col(bucket_col).alias("bucket"),
            (F.col(count_col) / F.when(tot > 0, tot).otherwise(F.lit(1.0))).alias(p_name),
        )

    j = _norm(base, "p_base").join(
        _norm(cur, "p_cur"), key_cols + ["bucket"], "full_outer"
    )
    return _psi_reduce(j, key_cols)


def psi_from_wide(
    wide: DataFrame,
    bucket_col: str = "bucket",
    base_count_col: str = "count_base",
    cur_count_col: str = "count_cur",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """PSI when both cohorts' bucket counts come out of ONE aggregation
    pass (base/cur counts side by side per bucket) — no join at all.
    Preferred over `psi` whenever the cohorts share a scan: the
    two-DataFrame form reads the corpus once per side, the wide form once
    total. Missing side (count 0) → prob floor, identical to the
    full-outer-join semantics of `psi`."""
    key_cols = key_cols or []
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols)
    tb = F.sum(base_count_col).over(w)
    tc = F.sum(cur_count_col).over(w)
    j = wide.select(
        *key_cols,
        F.when(
            (F.col(base_count_col) > 0) & (tb > 0), F.col(base_count_col) / tb
        ).alias("p_base"),
        F.when(
            (F.col(cur_count_col) > 0) & (tc > 0), F.col(cur_count_col) / tc
        ).alias("p_cur"),
    )
    return _psi_reduce(j, key_cols)


def _psi_reduce(j: DataFrame, key_cols: list[str]) -> DataFrame:
    """Shared tail: floor zero/missing probs at 1e-4, sum PSI terms, gate."""
    pb = F.coalesce(F.when(F.col("p_base") > 0, F.col("p_base")), F.lit(PSI_FLOOR))
    pc = F.coalesce(F.when(F.col("p_cur") > 0, F.col("p_cur")), F.lit(PSI_FLOOR))
    agg = j.groupBy(*key_cols).agg(
        F.sum((pc - pb) * F.log(pc / pb)).alias("psi")
    )
    return agg.select(
        *key_cols,
        "psi",
        (F.col("psi") > 0.2).alias("drift"),
        psi_severity(F.col("psi")).alias("severity"),
    )


def psi_severity(psi_col):
    (top, top_bound), *rest = PSI_BANDS
    sev = F.when(psi_col > top_bound, top)
    for band, bound in rest:
        sev = sev.when(psi_col > bound, band)
    return sev.otherwise("none")


def psi_band(psi: float) -> str:
    """psi_severity of one driver-side score."""
    return next((band for band, bound in PSI_BANDS if psi > bound), "none")


def z_score(
    base_mean, base_stddev, cur_mean
):
    """|cur − base| / base_stddev (stddev→1 when 0); drift > 2.0, severity
    >3.0 high / >2.5 medium (statistical_tests.py:614-753). Column-level
    helper usable in any select."""
    sd = F.when(F.abs(base_stddev) > 0, base_stddev).otherwise(F.lit(1.0))
    z = F.abs(cur_mean - base_mean) / sd
    sev = (
        F.when(z > 3.0, "high").when(z > 2.5, "medium").when(z > 2.0, "low").otherwise("none")
    )
    return z, z > 2.0, sev


def chi_square(
    base: DataFrame,
    cur: DataFrame,
    category_col: str = "category",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """2×k contingency chi² with expected counts from pooled margins
    (statistical_tests.py:761-950). Drift if p < 0.05 OR χ² > 2·df
    (statistical_tests.py:864-866); severity high when χ² > 5·df or
    p < 0.001, medium when χ² > 3·df or p < 0.01, else low. p-value via
    the Wilson–Hilferty approximation (`chi2_sf_expr`) — the reference
    uses scipy when installed, which it is not here.

    Returns (key_cols..., chi2:double, dof:long, p_value, drift,
    severity)."""
    key_cols = key_cols or []
    b = base.select(*key_cols, F.col(category_col).alias("cat"),
                    F.col(count_col).cast("double").alias("n_b"))
    c = cur.select(*key_cols, F.col(category_col).alias("cat"),
                   F.col(count_col).cast("double").alias("n_c"))
    j = (
        b.join(c, key_cols + ["cat"], "full_outer")
        .fillna(0.0, subset=["n_b", "n_c"])
    )
    tot = j.groupBy(*key_cols).agg(
        F.sum("n_b").alias("Nb"), F.sum("n_c").alias("Nc"),
        F.count(F.lit(1)).alias("k"),
    )
    jj = j.join(F.broadcast(tot), key_cols) if key_cols else j.crossJoin(F.broadcast(tot))
    row_tot = F.col("n_b") + F.col("n_c")
    grand = F.col("Nb") + F.col("Nc")
    e_b = row_tot * F.col("Nb") / grand
    e_c = row_tot * F.col("Nc") / grand
    term = (
        F.when(e_b > 0, F.pow(F.col("n_b") - e_b, 2) / e_b).otherwise(0.0)
        + F.when(e_c > 0, F.pow(F.col("n_c") - e_c, 2) / e_c).otherwise(0.0)
    )
    agg = jj.groupBy(*key_cols).agg(
        F.sum(term).alias("chi2"), (F.first("k") - 1).cast("long").alias("dof")
    )
    p = chi2_sf_expr(F.col("chi2"), F.col("dof"))
    agg = agg.withColumn("p_value", p)
    drift = F.coalesce(F.col("p_value") < 0.05, F.lit(False)) | (
        F.col("chi2") > 2 * F.col("dof")
    )
    return agg.select(
        *key_cols, "chi2", "dof", "p_value",
        drift.alias("drift"),
        F.when(~drift, "none")
        .when((F.col("chi2") > 5 * F.col("dof"))
              | F.coalesce(F.col("p_value") < 0.001, F.lit(False)), "high")
        .when((F.col("chi2") > 3 * F.col("dof"))
              | F.coalesce(F.col("p_value") < 0.01, F.lit(False)), "medium")
        .otherwise("low")
        .alias("severity"),
    )


def entropy_drift(
    base: DataFrame,
    cur: DataFrame,
    category_col: str = "category",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """|ΔShannon entropy| (log2) of the two category distributions
    (statistical_tests.py:953-1126): drift > 0.1; severity > 0.3 high,
    > 0.2 medium."""
    key_cols = key_cols or []

    def _h(df: DataFrame, name: str) -> DataFrame:
        tot = df.groupBy(*key_cols).agg(F.sum(count_col).alias("__tot"))
        j = df.join(F.broadcast(tot), key_cols) if key_cols else df.crossJoin(F.broadcast(tot))
        p = F.col(count_col) / F.col("__tot")
        return j.groupBy(*key_cols).agg(
            F.sum(F.when(p > 0, -p * F.log2(p)).otherwise(0.0)).alias(name)
        )

    hb = _h(base, "h_base")
    hc = _h(cur, "h_cur")
    j = hb.join(hc, key_cols) if key_cols else hb.crossJoin(hc)
    d = F.abs(F.col("h_cur") - F.col("h_base"))
    return j.select(
        *key_cols,
        F.col("h_base"), F.col("h_cur"), d.alias("entropy_diff"),
        (d > 0.1).alias("drift"),
        F.when(d > 0.3, "high").when(d > 0.2, "medium").when(d > 0.1, "low")
        .otherwise("none").alias("severity"),
    )


def top_k_jaccard(
    base: DataFrame,
    cur: DataFrame,
    category_col: str = "category",
    count_col: str = "count",
    k: int = 10,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Jaccard similarity of the two cohorts' top-k category sets
    (statistical_tests.py:1129-1297): drift if sim < 0.7; severity
    < 0.3 high, < 0.5 medium."""
    from pyspark.sql import Window as W

    key_cols = key_cols or []

    def _topk(df: DataFrame, name: str) -> DataFrame:
        w = W.partitionBy(*key_cols).orderBy(
            F.desc(count_col), F.asc(category_col)
        ) if key_cols else W.orderBy(F.desc(count_col), F.asc(category_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .groupBy(*key_cols)
            .agg(F.collect_set(category_col).alias(name))
        )

    tb = _topk(base, "set_base")
    tc = _topk(cur, "set_cur")
    j = tb.join(tc, key_cols) if key_cols else tb.crossJoin(tc)
    inter = F.size(F.array_intersect("set_base", "set_cur")).cast("double")
    union = F.size(F.array_union("set_base", "set_cur")).cast("double")
    sim = F.when(union > 0, inter / union).otherwise(1.0)
    return j.select(
        *key_cols,
        sim.alias("jaccard"),
        (sim < 0.7).alias("drift"),
        F.when(sim < 0.3, "high").when(sim < 0.5, "medium").when(sim < 0.7, "low")
        .otherwise("none").alias("severity"),
    )


def ks_from_histograms(
    base: DataFrame,
    cur: DataFrame,
    bucket_col: str = "bucket",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Two-sample KS statistic from aligned histogram buckets: max |ΔECDF|
    (the reference's manual fallback, statistical_tests.py:344-381), plus
    the asymptotic p-value over effective n = Nb·Nc/(Nb+Nc)
    (`kolmogorov_sf_expr`). Drift gate mirrors the reference's scipy
    branch (statistical_tests.py:222-260): drift if p < 0.05; severity
    high when D > 0.3 or p < 0.001, medium when D > 0.2 or p < 0.01,
    else low."""
    key_cols = key_cols or []
    b = base.select(*key_cols, F.col(bucket_col).alias("bucket"),
                    F.col(count_col).cast("double").alias("n_b"))
    c = cur.select(*key_cols, F.col(bucket_col).alias("bucket"),
                   F.col(count_col).cast("double").alias("n_c"))
    j = b.join(c, key_cols + ["bucket"], "full_outer").fillna(0.0, ["n_b", "n_c"])
    return _ks_reduce(j, key_cols)


def ks_from_wide(
    wide: DataFrame,
    bucket_col: str = "bucket",
    base_count_col: str = "count_base",
    cur_count_col: str = "count_cur",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """KS when both cohorts' bucket counts come out of ONE aggregation
    pass — skips the full-outer join of `ks_from_histograms` (and the
    second corpus read it implies when both sides derive from one scan)."""
    key_cols = key_cols or []
    j = wide.select(
        *key_cols, F.col(bucket_col).alias("bucket"),
        F.col(base_count_col).cast("double").alias("n_b"),
        F.col(cur_count_col).cast("double").alias("n_c"),
    )
    return _ks_reduce(j, key_cols)


def _ks_reduce(j: DataFrame, key_cols: list[str]) -> DataFrame:
    """Shared tail: per-side totals via window sums (NOT a broadcast
    self-join, which would re-execute the upstream plan once per
    reference), ECDF as a running sum of per-bucket ratios (same
    association order as the DuckDB oracle), max |ΔECDF|, asymptotic p."""
    from pyspark.sql import Window as W

    wp = W.partitionBy(*key_cols)
    w = wp.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    tot = j.select(
        *key_cols, "bucket", "n_b", "n_c",
        F.sum("n_b").over(wp).alias("Nb"),
        F.sum("n_c").over(wp).alias("Nc"),
    )
    ecdf = tot.select(
        *key_cols, "Nb", "Nc",
        (F.sum(F.col("n_b") / F.col("Nb")).over(w)).alias("F_b"),
        (F.sum(F.col("n_c") / F.col("Nc")).over(w)).alias("F_c"),
    )
    agg = ecdf.groupBy(*key_cols).agg(
        F.max(F.abs(F.col("F_b") - F.col("F_c"))).alias("ks_d"),
        F.first("Nb").alias("Nb"), F.first("Nc").alias("Nc"),
    )
    n_eff = F.col("Nb") * F.col("Nc") / (F.col("Nb") + F.col("Nc"))
    agg = agg.withColumn("p_value", kolmogorov_sf_expr(F.col("ks_d"), n_eff))
    drift = F.coalesce(F.col("p_value") < 0.05, F.lit(False))
    return agg.select(
        *key_cols, "ks_d", "p_value",
        drift.alias("drift"),
        F.when(~drift, "none")
        .when((F.col("ks_d") > 0.3) | (F.col("p_value") < 0.001), "high")
        .when((F.col("ks_d") > 0.2) | (F.col("p_value") < 0.01), "medium")
        .otherwise("low")
        .alias("severity"),
    )


# ---------------------------------------------------------------------------
# drift strategies (per-type thresholds + metric-ignore matrix per
# /root/reference/baselinr/drift/type_thresholds.py:26-47,152-186)
# ---------------------------------------------------------------------------

# (normalized_type, metric) -> (low, medium, high); "default" per type
TYPE_THRESHOLDS: dict[tuple[str, str], tuple[float, float, float]] = {
    ("numeric", "mean"): (10.0, 25.0, 50.0),
    ("numeric", "stddev"): (3.0, 8.0, 15.0),
    ("numeric", "default"): (5.0, 15.0, 30.0),
    ("categorical", "distinct_count"): (2.0, 5.0, 10.0),
    ("categorical", "unique_ratio"): (0.02, 0.05, 0.10),
    ("categorical", "default"): (5.0, 15.0, 30.0),
    ("timestamp", "default"): (5.0, 15.0, 30.0),
    ("boolean", "default"): (2.0, 5.0, 10.0),
}

# metrics that are meaningless for a type — dropped before comparison
# (type_thresholds.py IGNORED_METRICS)
IGNORED_METRICS: dict[str, set[str]] = {
    "categorical": {"mean", "stddev", "min", "max"},
    "boolean": {"mean", "stddev", "min", "max", "histogram"},
}

_NUMERIC_NAMES = (
    "integer", "int", "bigint", "smallint", "tinyint", "numeric", "decimal",
    "float", "double", "real", "number", "money", "smallmoney",
    "double precision",
)
_CATEGORICAL_NAMES = (
    "varchar", "char", "text", "string", "nvarchar", "nchar", "ntext",
    "enum", "character", "character varying",
)
_TIMESTAMP_NAMES = (
    "timestamp", "datetime", "date", "time", "datetime2", "smalldatetime",
    "datetimeoffset", "timestamp_ntz", "timestamp_ltz", "timestamp_tz",
)
_BOOLEAN_NAMES = ("boolean", "bool", "bit")


def normalize_type_expr(type_col):
    """DB type string → category, mirroring the reference's
    normalize_column_type (/root/reference/baselinr/drift/
    type_normalizer.py:24-110): strip the '(…)' size suffix, lowercase,
    map through the four name sets, else 'unknown'. Already-normalized
    names pass through."""
    base = F.regexp_extract(F.lower(F.trim(type_col)), r"^([a-z_ 0-9]+?)\s*(?:\(|$)", 1)
    return (
        F.when(base.isin(*_NUMERIC_NAMES), "numeric")
        .when(base.isin(*_CATEGORICAL_NAMES), "categorical")
        .when(base.isin(*_TIMESTAMP_NAMES), "timestamp")
        .when(base.isin(*_BOOLEAN_NAMES), "boolean")
        .when(base == "categorical", "categorical")  # already-normalized pass-through
        .otherwise("unknown")
    )


def _typed_threshold(norm, metric, which: int, fallback: float):
    """Per-row threshold column: metric-specific beats type default beats
    the strategy's base threshold (type_thresholds.py:49-113)."""
    metric_spec = None
    type_def = None
    for (t, m), vals in TYPE_THRESHOLDS.items():
        lit = F.lit(vals[which])
        if m == "default":
            type_def = F.when(norm == t, lit) if type_def is None else type_def.when(norm == t, lit)
        else:
            c = (norm == t) & (metric == m)
            metric_spec = F.when(c, lit) if metric_spec is None else metric_spec.when(c, lit)
    return F.coalesce(metric_spec, type_def, F.lit(fallback))


def _drop_ignored(joined: DataFrame, norm, metric_col: str) -> DataFrame:
    ignored = F.lit(False)
    for t, ms in IGNORED_METRICS.items():
        ignored = ignored | ((norm == t) & F.col(metric_col).isin(*sorted(ms)))
    return joined.filter(~ignored)


def absolute_threshold(
    joined: DataFrame,
    base_col: str = "base_value",
    cur_col: str = "cur_value",
    low: float = 5.0,
    medium: float = 15.0,
    high: float = 30.0,
    type_col: str | None = None,
    metric_col: str = "metric_name",
) -> DataFrame:
    """The reference's default drift strategy
    (/root/reference/baselinr/drift/strategies.py:61-173):
    change% = (cur − base) / |base| · 100; baseline == 0 → change_pct
    NULL, no drift (strategies.py:131-137); drift when |change%| ≥ low;
    severity bands ≥high/≥medium/≥low. Input: one row per
    (…, base_value, cur_value) metric pair — e.g. the drift-compare join
    of two runs' metrics (SURVEY.md §2.5).

    When `type_col` is given, applies the per-type threshold table and
    drops type-ignored metrics (type_thresholds.py:26-47,152-186)."""
    b = F.col(base_col).cast("double")
    c = F.col(cur_col).cast("double")
    if type_col is not None:
        norm = normalize_type_expr(F.col(type_col))
        joined = _drop_ignored(joined, norm, metric_col)
        m = F.col(metric_col)
        lo = _typed_threshold(norm, m, 0, low)
        md = _typed_threshold(norm, m, 1, medium)
        hi = _typed_threshold(norm, m, 2, high)
    else:
        lo, md, hi = F.lit(low), F.lit(medium), F.lit(high)
    change = F.when(b != 0, (c - b) * 100.0 / F.abs(b))  # else NULL
    out = joined.withColumn("change_pct", change)
    a = F.abs(F.col("change_pct"))
    return out.withColumn(
        "drift", F.coalesce(a >= lo, F.lit(False))
    ).withColumn(
        "severity",
        F.when(a >= hi, "high").when(a >= md, "medium")
        .when(a >= lo, "low").otherwise("none"),
    )


def standard_deviation_strategy(
    joined: DataFrame,
    base_col: str = "base_value",
    cur_col: str = "cur_value",
    type_col: str | None = None,
    metric_col: str = "metric_name",
) -> DataFrame:
    """The reference's standard_deviation strategy
    (/root/reference/baselinr/drift/strategies.py:176-299): proxy
    std-devs = |change%| / 10; drift at ≥1σ, severity bands 1/2/3σ.
    Baseline == 0 → no result (strategies.py:259-263 returns None), so
    those rows are filtered out. With `type_col`, percentage thresholds
    from the type table are converted to σ via /10
    (strategies.py:235-252) and ignored metrics dropped."""
    b = F.col(base_col).cast("double")
    c = F.col(cur_col).cast("double")
    if type_col is not None:
        norm = normalize_type_expr(F.col(type_col))
        joined = _drop_ignored(joined, norm, metric_col)
        m = F.col(metric_col)
        lo = _typed_threshold(norm, m, 0, 10.0) / 10.0
        md = _typed_threshold(norm, m, 1, 20.0) / 10.0
        hi = _typed_threshold(norm, m, 2, 30.0) / 10.0
    else:
        lo, md, hi = F.lit(1.0), F.lit(2.0), F.lit(3.0)
    out = (
        joined.filter(b != 0)
        .withColumn("change_pct", (c - b) * 100.0 / F.abs(b))
        .withColumn("std_devs", F.abs(F.col("change_pct")) / 10.0)
    )
    s = F.col("std_devs")
    return out.withColumn(
        "drift", F.coalesce(s >= lo, F.lit(False))
    ).withColumn(
        "severity",
        F.when(s >= hi, "high").when(s >= md, "medium")
        .when(s >= lo, "low").otherwise("none"),
    )


def ml_drift_scores(
    history: DataFrame,
    current: DataFrame,
    key_cols: list[str],
    metric_col: str = "metric_name",
    value_col: str = "metric_value",
    min_history: int = 5,
) -> DataFrame:
    """ML-based drift detection — drift strategy ``ml_based``.

    The reference declares this strategy but never implements it
    (/root/reference/baselinr/drift/strategies.py:302-342 raises
    NotImplementedError and names "anomaly detection / statistical
    models" as the intent). This is a real implementation of that
    intent, Spark-first: a diagonal-covariance Gaussian anomaly model
    fitted per key group over the metric history — the classic
    multivariate Gaussian anomaly detector.

    Model fit (one groupBy over history): per (key, metric) learn
    μ and sample σ from ≥ ``min_history`` observations (σ→1.0 when 0
    or undefined, matching the z_score strategy's guard). Scoring: the
    current run's metric vector x gives standardized residuals
    z_m = (x_m − μ_m)/σ_m; the anomaly score is the squared Mahalanobis
    distance D² = Σ z_m² over the metrics modeled AND present, which
    under the fitted model is χ²(dof = #metrics). p = P(χ²_dof > D²)
    via the same Wilson–Hilferty + A&S erf approximation the other
    drift tests use (chi2_sf_expr), so the whole pipeline stays
    oracle-expressible. Severity ladder matches chi_square's:
    drift iff p < 0.05; high p < 0.001, medium p < 0.01, else low.

    Also reports the top contributing metric (largest |z|; ties break
    toward the lexicographically larger metric name — a struct-max,
    deterministic) and its signed z, the explainability hook the
    reference's placeholder docstring asks for ("score the current
    value ... return drift based on anomaly score").

    Scale shape: the model is one map-side-combining groupBy over the
    metric history (O(keys × metrics) rows out), the score is one
    equi-join of the current run (tiny) against it plus one groupBy —
    no windows, no shuffle of anything corpus-sized.

    Returns (key_cols..., score:double, dof:long, p_value:double,
    top_metric:string, top_z:double, drift:boolean, severity:string).
    """
    v = F.col(value_col).cast("double")
    model = (
        history.groupBy(*key_cols, metric_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(v).alias("__mu"),
            F.stddev_samp(v).alias("__sd"),
        )
        .filter(F.col("__n") >= min_history)
    )
    sd = F.when(
        F.col("__sd").isNotNull() & (F.col("__sd") > 0), F.col("__sd")
    ).otherwise(F.lit(1.0))
    scored = current.join(model, key_cols + [metric_col]).select(
        *key_cols,
        F.col(metric_col).alias("__metric"),
        ((v - F.col("__mu")) / sd).alias("__z"),
    )
    agg = scored.groupBy(*key_cols).agg(
        F.sum(F.col("__z") * F.col("__z")).alias("score"),
        F.count(F.lit(1)).cast("long").alias("dof"),
        F.max(
            F.struct(
                F.abs(F.col("__z")).alias("az"),
                F.col("__metric").alias("m"),
                F.col("__z").alias("z"),
            )
        ).alias("__top"),
    )
    p = chi2_sf_expr(F.col("score"), F.col("dof"))
    agg = agg.select(
        *key_cols,
        "score",
        "dof",
        p.alias("p_value"),
        F.col("__top.m").alias("top_metric"),
        F.col("__top.z").alias("top_z"),
    )
    drift = F.coalesce(F.col("p_value") < 0.05, F.lit(False))
    return agg.select(
        *key_cols, "score", "dof", "p_value", "top_metric", "top_z",
        drift.alias("drift"),
        F.when(~drift, "none")
        .when(F.col("p_value") < 0.001, "high")
        .when(F.col("p_value") < 0.01, "medium")
        .otherwise("low")
        .alias("severity"),
    )


def js_divergence(
    base: DataFrame,
    cur: DataFrame,
    category_col: str = "category",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Jensen-Shannon divergence (log2, so bounded [0, 1]) between two
    category-count distributions — the symmetric, always-finite
    companion to `psi`/`entropy_drift` for categorical cohort drift:
    ``JS = 0.5·KL(P‖M) + 0.5·KL(Q‖M)`` with ``M = (P+Q)/2``; a side's
    missing category contributes with probability 0 (no floor needed —
    0·log(0/m) = 0 and m > 0 wherever either side has mass).

    Reference has no JS surface (its categorical battery stops at
    chi-square/entropy/top-k Jaccard, statistical_tests.py:864-1126);
    additive coverage. Same scale shape as `psi`: per-side totals are
    window sums over the already-aggregated category table (never a
    broadcast self-join that would re-run the corpus scan), and the
    full-outer join carries O(categories) rows per key group.

    Severity: drift if js > 0.1; high > 0.3, medium > 0.2, else low.
    Returns (key_cols..., js:double, n_categories:bigint,
    drift:boolean, severity:string).
    """
    key_cols = key_cols or []
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols)

    def _norm(df: DataFrame, p_name: str) -> DataFrame:
        tot = F.sum(count_col).over(w)
        return df.select(
            *key_cols,
            F.col(category_col).alias("category"),
            (
                F.col(count_col)
                / F.when(tot > 0, tot).otherwise(F.lit(1.0))
            ).alias(p_name),
        )

    j = _norm(base, "p_base").join(
        _norm(cur, "p_cur"), key_cols + ["category"], "full_outer"
    )
    p = F.coalesce(F.col("p_base"), F.lit(0.0))
    q = F.coalesce(F.col("p_cur"), F.lit(0.0))
    m = (p + q) / 2
    term = (
        F.when(p > 0, 0.5 * p * F.log2(p / m)).otherwise(0.0)
        + F.when(q > 0, 0.5 * q * F.log2(q / m)).otherwise(0.0)
    )
    agg = j.groupBy(*key_cols).agg(
        F.sum(term).alias("js"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    return agg.select(
        *key_cols,
        "js",
        "n_categories",
        (F.col("js") > 0.1).alias("drift"),
        F.when(F.col("js") > 0.3, "high")
        .when(F.col("js") > 0.2, "medium")
        .when(F.col("js") > 0.1, "low")
        .otherwise("none")
        .alias("severity"),
    )


def mann_whitney_from_counts(
    base: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) drift test from
    per-value count tables — the nonparametric location-shift
    complement to this registry's KS (shape), PSI (binned mass) and
    z-score (parametric mean) tests: rank-based, so a median shift
    under heavy tails that leaves the mean alone still fires.

    Inputs are (value, count) aggregates per cohort — the same
    pre-collapsed shape the KS/PSI paths consume — so the expensive
    part (value grouping) is a map-side-combining groupBy done by the
    caller and THIS op's window runs over O(distinct values) rows per
    key, never over the corpus. Midranks (tie-average) come from the
    merged table: midrank(v) = cum_before(v) + (t_v + 1)/2.

    Statistic: U1 from base's rank sum; z uses the tie-corrected
    normal approximation
    sigma^2 = n1*n2/12 * ((n+1) - sum(t^3 - t)/(n*(n-1))), two-sided
    p via erf. Effect size: rank-biserial r = 2*U1/(n1*n2) - 1
    (sign: r > 0 means base stochastically larger). Drift if
    p < 0.05; severity by |r|: > 0.5 high, > 0.3 medium, else low.
    Returns (*key_cols, u, z, p_value, rank_biserial, n_base, n_cur,
    drift, severity)."""
    from pyspark.sql import Window as W

    key_cols = key_cols or []
    b = base.select(*key_cols, F.col(value_col).alias("v"),
                    F.col(count_col).cast("double").alias("n_b"))
    c = cur.select(*key_cols, F.col(value_col).alias("v"),
                   F.col(count_col).cast("double").alias("n_c"))
    j = (b.join(c, key_cols + ["v"], "full_outer")
         .fillna(0.0, ["n_b", "n_c"])
         .withColumn("t", F.col("n_b") + F.col("n_c")))
    w = (W.partitionBy(*key_cols) if key_cols else W.partitionBy()).orderBy("v")
    j = j.withColumn(
        "midrank",
        F.coalesce(F.sum("t").over(w.rowsBetween(W.unboundedPreceding, -1)),
                   F.lit(0.0)) + (F.col("t") + 1) / 2,
    )
    agg = j.groupBy(*key_cols).agg(
        F.sum(F.col("n_b") * F.col("midrank")).alias("r1"),
        F.sum("n_b").alias("n1"),
        F.sum("n_c").alias("n2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3"),
    )
    n = F.col("n1") + F.col("n2")
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    mu = F.col("n1") * F.col("n2") / 2
    tie_corr = (n + 1) - F.col("tie3") / (n * (n - 1))
    sigma = F.sqrt(F.col("n1") * F.col("n2") / 12 * tie_corr)
    z = F.when(sigma > 0, (u1 - mu) / sigma).otherwise(F.lit(0.0))
    p = 1.0 - erf_expr(F.abs(z) / math.sqrt(2.0))
    r_rb = F.when(
        F.col("n1") * F.col("n2") > 0, 2 * u1 / (F.col("n1") * F.col("n2")) - 1
    ).otherwise(F.lit(0.0))
    out = agg.select(
        *key_cols,
        u1.alias("u"),
        z.alias("z"),
        p.alias("p_value"),
        r_rb.alias("rank_biserial"),
        F.col("n1").cast("long").alias("n_base"),
        F.col("n2").cast("long").alias("n_cur"),
    )
    return out.select(
        "*",
        (F.col("p_value") < 0.05).alias("drift"),
        F.when(~(F.col("p_value") < 0.05), "none")
        .when(F.abs("rank_biserial") > 0.5, "high")
        .when(F.abs("rank_biserial") > 0.3, "medium")
        .otherwise("low")
        .alias("severity"),
    )


def oracle_mann_whitney_sql(
    base_sql: str,
    cur_sql: str,
    value_col: str = "value",
    count_col: str = "count",
) -> str:
    """DuckDB replay of mann_whitney_from_counts (no key_cols — gate
    entries pass one metric per call), including the erf approximation
    (A&S 7.1.26) inline so p-values match bit-for-bit."""
    return f"""
WITH b AS (SELECT {value_col} AS v, {count_col}::double AS n_b FROM ({base_sql})),
c AS (SELECT {value_col} AS v, {count_col}::double AS n_c FROM ({cur_sql})),
j AS (
  SELECT coalesce(b.v, c.v) AS v,
         coalesce(n_b, 0) AS n_b, coalesce(n_c, 0) AS n_c,
         coalesce(n_b, 0) + coalesce(n_c, 0) AS t
  FROM b FULL OUTER JOIN c ON b.v = c.v
),
ranked AS (
  SELECT *, coalesce(sum(t) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + (t + 1) / 2 AS midrank
  FROM j
),
agg AS (
  SELECT sum(n_b * midrank) AS r1, sum(n_b) AS n1, sum(n_c) AS n2,
         sum(t*t*t - t) AS tie3
  FROM ranked
),
stat AS (
  SELECT r1 - n1*(n1+1)/2 AS u, n1, n2, tie3, n1 + n2 AS n,
         sqrt(n1*n2/12.0 * ((n1+n2+1) - tie3/((n1+n2)*(n1+n2-1)))) AS sigma
  FROM agg
),
zed AS (
  SELECT u, n1, n2,
         CASE WHEN sigma > 0 THEN (u - n1*n2/2) / sigma ELSE 0 END AS z,
         CASE WHEN n1*n2 > 0 THEN 2*u/(n1*n2) - 1 ELSE 0 END AS rank_biserial
  FROM stat
),
pv AS (
  SELECT u, z, rank_biserial, n1, n2,
         abs(z) / sqrt(2.0) AS ax
  FROM zed
),
erf AS (
  SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM pv
),
pp AS (
  SELECT u, z, rank_biserial, n1, n2,
         1.0 - (1.0 - (((((1.061405429*tt - 1.453152027)*tt) + 1.421413741)*tt
                - 0.284496736)*tt + 0.254829592)*tt * exp(-ax*ax)) AS p_value
  FROM erf
)
SELECT u, z, p_value, rank_biserial,
       n1::bigint AS n_base, n2::bigint AS n_cur,
       p_value < 0.05 AS drift,
       CASE WHEN NOT (p_value < 0.05) THEN 'none'
            WHEN abs(rank_biserial) > 0.5 THEN 'high'
            WHEN abs(rank_biserial) > 0.3 THEN 'medium'
            ELSE 'low' END AS severity
FROM pp
"""


def bh_fdr(
    tests: DataFrame,
    test_col: str = "test_id",
    p_col: str = "p_value",
    alpha: float = 0.05,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a family of
    p-values — the multiple-comparison correction this registry's
    per-metric drift tests need when a run fires hundreds of them: at
    alpha=0.05 a 500-test run expects ~25 false drift events uncorrected;
    BH caps the FALSE-DISCOVERY fraction at alpha instead (Benjamini &
    Hochberg 1995). The reference emits raw per-test severities with no
    family-wise view (events built test-by-test,
    /root/reference/baselinr/events/builtin_hooks.py) — this is the
    principled aggregation layer above them.

    q-value = min_{j >= i} (m * p_(j) / j) (the monotone step-up
    adjustment, capped at 1), computed with two windows over the
    O(#tests) family — never corpus-scale. reject = q <= alpha,
    equivalent to the classic max-i rule. Ties order by (p, test_id)
    for engine determinism. Returns (*key_cols, test_id, p_value,
    rank, q_value, reject)."""
    from pyspark.sql import Window as W

    key_cols = key_cols or []
    base = (W.partitionBy(*key_cols) if key_cols else W.partitionBy())
    w_rank = base.orderBy(F.col(p_col).asc(), F.col(test_col).asc())
    w_suffix = base.orderBy(
        F.col(p_col).desc(), F.col(test_col).desc()
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    t = tests.withColumn("rank", F.row_number().over(w_rank)).withColumn(
        "__m", F.count(F.lit(1)).over(base.rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing))
    )
    raw_q = F.col("__m") * F.col(p_col) / F.col("rank")
    t = t.withColumn(
        "q_value", F.least(F.min(raw_q).over(w_suffix), F.lit(1.0))
    )
    return t.select(
        *key_cols,
        F.col(test_col),
        F.col(p_col),
        "rank",
        "q_value",
        (F.col("q_value") <= alpha).alias("reject"),
    )


def oracle_bh_fdr_sql(
    tests_sql: str,
    test_col: str = "test_id",
    p_col: str = "p_value",
    alpha: float = 0.05,
) -> str:
    """DuckDB replay (no key_cols — one family per gate call)."""
    return f"""
WITH t AS (
  SELECT {test_col}, {p_col},
         row_number() OVER (ORDER BY {p_col} ASC, {test_col} ASC) AS rank,
         count(*) OVER () AS m
  FROM ({tests_sql})
),
q AS (
  SELECT *, least(min(m * {p_col} / rank) OVER (
           ORDER BY {p_col} DESC, {test_col} DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS q_value
  FROM t
)
SELECT {test_col}, {p_col}, rank::int AS rank, q_value,
       q_value <= {alpha} AS reject
FROM q
"""


def wasserstein_from_counts(
    base: DataFrame,
    cur: DataFrame,
    value_col: str = "value",
    count_col: str = "count",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between two cohorts from
    (value, count) aggregates: W1 = sum over adjacent distinct values
    of |F_base - F_cur| * (v_next - v) — the integral counterpart of
    KS's max |deltaECDF|, in the VALUE's units. KS answers "is there a
    shift?"; W1 answers "how big is it?" (the drift-magnitude number
    Evidently/production monitors report next to PSI). Also emitted
    normalized by the pooled value range for a unit-free severity.

    Same pre-collapsed input shape as mann_whitney_from_counts: the
    caller's groupBy(value) is the only corpus shuffle; this op's
    window runs over O(distinct values) rows per key. Severity bands
    on the normalized distance: > 0.2 high, > 0.1 medium, > 0.02 low.
    Returns (*key_cols, w1, w1_normalized, value_range, n_base, n_cur,
    severity)."""
    from pyspark.sql import Window as W

    key_cols = key_cols or []
    b = base.select(*key_cols, F.col(value_col).cast("double").alias("v"),
                    F.col(count_col).cast("double").alias("n_b"))
    c = cur.select(*key_cols, F.col(value_col).cast("double").alias("v"),
                   F.col(count_col).cast("double").alias("n_c"))
    j = (b.join(c, key_cols + ["v"], "full_outer")
         .fillna(0.0, ["n_b", "n_c"]))
    part = (W.partitionBy(*key_cols) if key_cols else W.partitionBy())
    w_all = part.orderBy("v").rowsBetween(W.unboundedPreceding,
                                          W.unboundedFollowing)
    w_cum = part.orderBy("v").rowsBetween(W.unboundedPreceding,
                                          W.currentRow)
    j = (j.withColumn("__tb", F.sum("n_b").over(w_all))
         .withColumn("__tc", F.sum("n_c").over(w_all))
         .withColumn("__fb", F.sum("n_b").over(w_cum) / F.col("__tb"))
         .withColumn("__fc", F.sum("n_c").over(w_cum) / F.col("__tc"))
         .withColumn("__vnext", F.lead("v").over(part.orderBy("v"))))
    seg = F.when(
        F.col("__vnext").isNotNull(),
        F.abs(F.col("__fb") - F.col("__fc")) * (F.col("__vnext") - F.col("v")),
    ).otherwise(0.0)
    agg = j.groupBy(*key_cols).agg(
        F.sum(seg).alias("w1"),
        (F.max("v") - F.min("v")).alias("value_range"),
        F.max("__tb").alias("n_base"),
        F.max("__tc").alias("n_cur"),
    )
    norm = F.when(F.col("value_range") > 0,
                  F.col("w1") / F.col("value_range")).otherwise(0.0)
    return agg.select(
        *key_cols,
        "w1",
        norm.alias("w1_normalized"),
        "value_range",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.when(norm > 0.2, "high").when(norm > 0.1, "medium")
        .when(norm > 0.02, "low").otherwise("none").alias("severity"),
    )


def oracle_wasserstein_sql(
    base_sql: str,
    cur_sql: str,
    value_col: str = "value",
    count_col: str = "count",
) -> str:
    return f"""
WITH b AS (SELECT {value_col}::double AS v, {count_col}::double AS n_b
           FROM ({base_sql})),
c AS (SELECT {value_col}::double AS v, {count_col}::double AS n_c
      FROM ({cur_sql})),
j AS (
  SELECT coalesce(b.v, c.v) AS v,
         coalesce(n_b, 0) AS n_b, coalesce(n_c, 0) AS n_c
  FROM b FULL OUTER JOIN c ON b.v = c.v
),
e AS (
  SELECT v, n_b, n_c,
         sum(n_b) OVER () AS tb, sum(n_c) OVER () AS tc,
         sum(n_b) OVER (ORDER BY v) AS cb,
         sum(n_c) OVER (ORDER BY v) AS cc,
         lead(v) OVER (ORDER BY v) AS vnext
  FROM j
),
agg AS (
  SELECT sum(CASE WHEN vnext IS NOT NULL
                  THEN abs(cb/tb - cc/tc) * (vnext - v) ELSE 0 END) AS w1,
         max(v) - min(v) AS value_range,
         max(tb)::bigint AS n_base, max(tc)::bigint AS n_cur
  FROM e
)
SELECT w1,
       CASE WHEN value_range > 0 THEN w1 / value_range ELSE 0 END
         AS w1_normalized,
       value_range, n_base, n_cur,
       CASE WHEN value_range > 0 AND w1 / value_range > 0.2 THEN 'high'
            WHEN value_range > 0 AND w1 / value_range > 0.1 THEN 'medium'
            WHEN value_range > 0 AND w1 / value_range > 0.02 THEN 'low'
            ELSE 'none' END AS severity
FROM agg
"""


def kruskal_wallis_from_counts(
    groups: DataFrame,
    group_col: str = "grp",
    value_col: str = "value",
    count_col: str = "count",
    alpha: float = 0.05,
) -> DataFrame:
    """Kruskal-Wallis H test from per-(group, value) counts — the
    k-sample extension of Mann-Whitney: "did ANY of these k cohorts
    shift?", asked once with one p-value instead of k(k-1)/2 pairwise
    tests that would then need FDR correction (`bh_fdr`). The natural
    first gate over a partition-cohort family before drilling into
    pairwise drift.

    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), midranks shared across
    all groups, divided by the tie correction
    1 - sum(t^3 - t)/(N^3 - N); p from the chi-square survival
    (Wilson-Hilferty, the registry's shared `chi2_sf_expr`) with k-1
    dof. Input is the same pre-collapsed (group, value, count) shape
    as the other rank tests: one window over O(distinct values), one
    groupBy(group), one final row. Returns a single row
    (h, h_corrected, dof, p_value, n_total, n_groups, drift)."""
    from pyspark.sql import Window as W

    g = groups.select(
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
        F.col(count_col).cast("double").alias("n"),
    )
    per_v = g.groupBy("v").agg(F.sum("n").alias("t"))
    w = W.partitionBy().orderBy("v")
    per_v = per_v.withColumn(
        "midrank",
        F.coalesce(F.sum("t").over(w.rowsBetween(W.unboundedPreceding, -1)),
                   F.lit(0.0)) + (F.col("t") + 1) / 2,
    )
    ranked = g.join(per_v.select("v", "midrank"), "v")
    per_g = ranked.groupBy("g").agg(
        F.sum(F.col("n") * F.col("midrank")).alias("r_g"),
        F.sum("n").alias("n_g"),
    )
    ties = per_v.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie3")
    )
    agg = per_g.agg(
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("rr"),
        F.sum("n_g").alias("n_total"),
        F.count(F.lit(1)).alias("n_groups"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n_total")
    h = 12.0 / (n * (n + 1)) * F.col("rr") - 3.0 * (n + 1)
    corr = 1.0 - F.col("tie3") / (n * n * n - n)
    hc = F.when(corr > 0, h / corr).otherwise(h)
    dof = (F.col("n_groups") - 1).cast("int")
    p = chi2_sf_expr(hc, dof)
    return agg.select(
        h.alias("h"),
        hc.alias("h_corrected"),
        dof.alias("dof"),
        p.alias("p_value"),
        n.cast("long").alias("n_total"),
        F.col("n_groups").cast("int").alias("n_groups"),
        (p < alpha).alias("drift"),
    )


def oracle_kruskal_wallis_sql(
    groups_sql: str,
    group_col: str = "grp",
    value_col: str = "value",
    count_col: str = "count",
    alpha: float = 0.05,
) -> str:
    """DuckDB replay incl. the Wilson-Hilferty chi-square survival +
    the same erf series the Spark side uses (drift.py chi2_sf_expr)."""
    return f"""
WITH g AS (
  SELECT {group_col} AS g, {value_col} AS v, {count_col}::double AS n
  FROM ({groups_sql})
),
per_v AS (
  SELECT v, sum(n) AS t FROM g GROUP BY 1
),
ranked_v AS (
  SELECT v, t,
         coalesce(sum(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + (t + 1) / 2 AS midrank
  FROM per_v
),
per_g AS (
  SELECT g.g, sum(g.n * r.midrank) AS r_g, sum(g.n) AS n_g
  FROM g JOIN ranked_v r USING (v) GROUP BY 1
),
ties AS (SELECT sum(t*t*t - t) AS tie3 FROM per_v),
agg AS (
  SELECT sum(r_g * r_g / n_g) AS rr, sum(n_g) AS n_total,
         count(*)::int AS n_groups
  FROM per_g
),
hstat AS (
  SELECT 12.0 / (n_total * (n_total + 1)) * rr - 3.0 * (n_total + 1) AS h,
         n_total, n_groups, t.tie3
  FROM agg, ties t
),
hc AS (
  SELECT h,
         CASE WHEN 1.0 - tie3 / (n_total*n_total*n_total - n_total) > 0
              THEN h / (1.0 - tie3 / (n_total*n_total*n_total - n_total))
              ELSE h END AS h_corrected,
         (n_groups - 1)::int AS dof, n_total, n_groups
  FROM hstat
),
wh AS (
  -- Wilson-Hilferty: z = ((h/k)^(1/3) - (1 - 2/(9k))) / sqrt(2/(9k))
  SELECT *, (pow(h_corrected / dof, 1.0/3.0) - (1.0 - 2.0/(9.0*dof)))
            / sqrt(2.0/(9.0*dof)) AS z
  FROM hc
),
erf_in AS (SELECT *, abs(z) / sqrt(2.0) AS ax FROM wh),
erf_t AS (SELECT *, 1.0 / (1.0 + 0.3275911 * ax) AS tt FROM erf_in),
pv AS (
  SELECT h, h_corrected, dof, n_total, n_groups, z,
         (1.0 - (((((1.061405429*tt - 1.453152027)*tt) + 1.421413741)*tt
            - 0.284496736)*tt + 0.254829592)*tt * exp(-ax*ax)) AS erf_ax
  FROM erf_t
),
fin AS (
  SELECT h, h_corrected, dof, n_total, n_groups,
         CASE WHEN z >= 0 THEN (1.0 - erf_ax) / 2.0
              ELSE (1.0 + erf_ax) / 2.0 END AS p_value
  FROM pv
)
SELECT h, h_corrected, dof,
       least(greatest(p_value, 0.0), 1.0) AS p_value,
       n_total::bigint AS n_total, n_groups,
       least(greatest(p_value, 0.0), 1.0) < {alpha} AS drift
FROM fin
"""


def psi_source_vs_rest(
    counts: DataFrame,
    part_col: str,
    bucket_col: str = "bucket",
    count_col: str = "count",
) -> DataFrame:
    """Drift ATTRIBUTION: for each part (source / mixture component),
    the PSI between that part's bucket distribution and the REST of
    the corpus — "which source moved the aggregate?" after a corpus-
    level PSI alarm fires. Reference PSI semantics throughout (1e-4
    floor, 0.2/0.3/0.5 severity ladder — statistical_tests.py:588-611).

    Input is the pre-bucketed (part, bucket, count) table — ONE
    map-side-combined corpus groupBy upstream. This operator's own
    work is O(parts x buckets): bucket totals re-aggregate the counts
    table, the part x bucket grid comes from two broadcast tiny
    tables, and rest = total - part per cell. Intended for
    mixture-component-scale part counts (dozens..thousands), the scale
    at which attribution is read by a human; per-domain attribution at
    10^8 domains should bucket domains first.

    Returns one row per part: (part, psi, drift, severity).
    """
    c = counts.select(
        F.col(part_col).alias("part"),
        F.col(bucket_col).alias("bucket"),
        F.col(count_col).cast("double").alias("n"),
    )
    tb = c.groupBy("bucket").agg(F.sum("n").alias("tot_b"))
    parts = c.select("part").distinct()
    grid = F.broadcast(parts).crossJoin(F.broadcast(tb))
    cells = grid.join(c, ["part", "bucket"], "left").select(
        "part",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0.0)).alias("n"),
        (F.col("tot_b") - F.coalesce(F.col("n"), F.lit(0.0))).alias("rest_n"),
    )
    cur = cells.select("part", "bucket", F.col("n").alias("count"))
    base = cells.select("part", "bucket", F.col("rest_n").alias("count"))
    out = psi(base, cur, key_cols=["part"])
    return out


def oracle_psi_source_vs_rest_sql(
    counts_sql: str,
    part_col: str,
    bucket_col: str = "bucket",
    count_col: str = "count",
) -> str:
    """DuckDB twin of :func:`psi_source_vs_rest` over ``counts_sql``."""
    return f"""
WITH c AS (
  SELECT {part_col} AS part, {bucket_col} AS bucket,
         ({count_col})::double AS n
  FROM ({counts_sql})
),
tb AS (SELECT bucket, sum(n) AS tot_b FROM c GROUP BY 1),
grid AS (
  SELECT p.part, tb.bucket, tb.tot_b FROM (SELECT DISTINCT part FROM c) p
  CROSS JOIN tb
),
cells AS (
  SELECT g.part, g.bucket, coalesce(c.n, 0.0) AS n,
         g.tot_b - coalesce(c.n, 0.0) AS rest_n
  FROM grid g LEFT JOIN c ON c.part = g.part AND c.bucket = g.bucket
),
norm AS (
  SELECT part, bucket,
         CASE WHEN rest_n > 0
              THEN rest_n / sum(rest_n) OVER (PARTITION BY part)
              ELSE 0.0001 END AS pb,
         CASE WHEN n > 0
              THEN n / sum(n) OVER (PARTITION BY part)
              ELSE 0.0001 END AS pc
  FROM cells
)
SELECT part, sum((pc - pb) * ln(pc / pb)) AS psi,
       sum((pc - pb) * ln(pc / pb)) > 0.2 AS drift,
       CASE WHEN sum((pc - pb) * ln(pc / pb)) > 0.5 THEN 'high'
            WHEN sum((pc - pb) * ln(pc / pb)) > 0.3 THEN 'medium'
            WHEN sum((pc - pb) * ln(pc / pb)) > 0.2 THEN 'low'
            ELSE 'none' END AS severity
FROM norm GROUP BY 1"""
