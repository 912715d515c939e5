"""Embedding-space corpus curation: per-group centroid construction and
within-group outlier scoring — the "does this document belong to the
cluster it claims?" check an embedding-aware web pipeline runs after
clustering (SemDeDup keeps near-duplicates out; THIS flags the opposite
tail, members far from their group's semantic center: mislabeled pages,
spam injected under a good domain, or encoding-mangled text whose
embedding drifted).

Additive vs the reference (its engine has no embedding surface at all);
companions: `semdedup` (within-cluster near-dups), `kmeans` (iterative
refinement), `cluster_balanced_sample` (quota sampling).

Scale shape (10^12 docs × d dims):
- Centroids: ONE posexplode + groupBy(group, pos). The shuffle carries
  (group, pos) partial sums after map-side combine — O(groups·d) rows
  per map task, not O(corpus·d); the reassembled centroid table is
  O(groups) rows and broadcasts.
- Scoring: map-side broadcast join + a zip_with/aggregate fold — no
  second corpus shuffle. The bottom-k window is per group and runs
  over the corpus ONCE (same shape as cluster_balanced_sample's
  quota rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import cosine_expr


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """(group, centroid: array<double>, n_members) — element-wise mean
    vector per group. Missing/NULL vectors are excluded; all vectors in
    a group must share one dimensionality (true by construction for
    model-emitted embeddings)."""
    ex = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("group"),
        F.col(vec_col).alias("__v"),
    ).select(
        "group", F.posexplode("__v").alias("pos", "v")
    )
    per_dim = ex.groupBy("group", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_dim.groupBy("group").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("centroid"),
        F.max("n").alias("n_members"),
    )


def centroid_outliers(
    df: DataFrame,
    id_col: str,
    group_col: str,
    vec_col: str = "embedding",
    bottom_k: int = 5,
) -> DataFrame:
    """Score every vector by cosine to its OWN group's centroid and flag
    each group's ``bottom_k`` least-central members (rank-based, not
    threshold-based, so the flag is exact and engine-reproducible — a
    fixed cosine cut would need corpus-specific tuning). Ties break
    (cosine asc, id asc). Returns
    (id, group, cent_cosine, outlier_rank, is_outlier) where
    outlier_rank is 1-based for flagged rows and NULL otherwise."""
    from pyspark.sql import Window as W

    cents = group_centroids(df, group_col, vec_col)
    scored = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(group_col).alias("group"), F.col(vec_col).alias("__v"))
        .join(F.broadcast(cents), "group")
        .select(
            id_col,
            "group",
            cosine_expr(F.col("__v"), F.col("centroid")).alias("cent_cosine"),
        )
    )
    # rank on the ROUNDED cosine (same stability rule as semdedup's
    # keeper choice) so float noise in the last bits cannot flip ranks
    # between engines
    w = W.partitionBy("group").orderBy(
        F.round(F.col("cent_cosine"), 6).asc(), F.col(id_col).asc()
    )
    rn = F.row_number().over(w)
    return scored.select(
        id_col,
        "group",
        "cent_cosine",
        F.when(rn <= bottom_k, rn).alias("outlier_rank"),
        (rn <= bottom_k).alias("is_outlier"),
    )


def embedding_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.28,
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus
    vector, the max cosine similarity against ANY benchmark/eval-set
    vector, the closest benchmark id, and a contaminated flag at
    ``threshold``. The semantic twin of the n-gram surface check
    (dedup.py:ngram_contamination) — catches paraphrased eval leakage
    that shares no 8-gram with the benchmark.

    Scale shape (10^12 docs): the benchmark side is eval sets —
    thousands-to-millions of rows — and is BROADCAST; the corpus
    streams through one BroadcastNestedLoopJoin + groupBy(doc), so
    there is no corpus-side shuffle of vectors, only of (doc_id,
    scalar) partials after map-side combine. For very large benchmark
    sets, pre-bucket both sides with the IVF cells in similarity.py
    and union the per-cell hits — same output, bounded candidates.

    Tie-break for the closest id: highest cosine first (rounded to 6
    for cross-engine rank stability, same rule as centroid_outliers),
    then lowest bench id. Returns
    (id, max_cosine, bench_id, contaminated)."""
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(vec_col).alias("__b")
    )
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("__v")
    )
    scored = (
        c.crossJoin(F.broadcast(b))
        .filter(F.col(id_col) != F.col("bench_id"))
        .select(
            id_col,
            "bench_id",
            cosine_expr(F.col("__v"), F.col("__b")).alias("cos"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max("cos").alias("max_cosine"),
        # argmax on (rounded cosine desc, bench_id asc): max of a
        # struct ordered (rounded cos, -bench_id) — one agg pass, no
        # window over the corpus
        F.max(
            F.struct(
                F.round(F.col("cos"), 6).alias("rc"),
                (-F.col("bench_id")).alias("nb"),
            )
        ).alias("__m"),
    )
    return best.select(
        id_col,
        "max_cosine",
        (-F.col("__m.nb")).alias("bench_id"),
        (F.round(F.col("max_cosine"), 6) >= threshold).alias("contaminated"),
    )


def oracle_embedding_contamination_sql(
    corpus_sql: str,
    benchmark_sql: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.28,
) -> str:
    """DuckDB replay: same cross join, same (rounded cos desc, id asc)
    argmax via row_number."""
    return f"""
WITH b AS (SELECT {id_col} AS bench_id, {vec_col} AS bv FROM ({benchmark_sql})),
scored AS (
  SELECT c.{id_col}, b.bench_id,
         list_cosine_similarity(c.{vec_col}::double[], b.bv::double[]) AS cos
  FROM ({corpus_sql}) c, b
  WHERE c.{vec_col} IS NOT NULL AND c.{id_col} != b.bench_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {id_col}
    ORDER BY round(cos, 6) DESC, bench_id ASC
  ) AS rn,
  max(cos) OVER (PARTITION BY {id_col}) AS max_cosine
  FROM scored
)
SELECT {id_col}, max_cosine, bench_id,
       round(max_cosine, 6) >= {threshold} AS contaminated
FROM ranked WHERE rn = 1
"""


def embedding_hygiene(
    df: DataFrame,
    vec_col: str,
    *,
    expected_dim: int,
) -> DataFrame:
    """Pre-flight hygiene audit for an embedding column — the checks
    every ANN / SemDeDup / kNN consumer silently assumes and a broken
    encoder batch silently violates: NULL vectors, wrong
    dimensionality, NaN/Inf components, exact-zero norm (cosine is
    undefined), plus the norm distribution (min/mean/max) over the
    clean rows. One corrupt shard upstream turns into cosine=NaN
    everywhere downstream; this is the cheap gate that catches it at
    ingest.

    Returns ONE row: (n_vectors, n_null, n_wrong_dim, n_nonfinite,
    n_zero_norm, n_clean, norm_min, norm_mean, norm_max).

    Scale design: entirely row-local expression work (size(),
    higher-order exists/aggregate folds — no UDF, no explode) feeding
    ONE aggregate; nothing leaves the map side but 9 counters.
    """
    v = F.col(vec_col).cast("array<double>")
    is_null = v.isNull()
    wrong_dim = ~is_null & (F.size(v) != F.lit(int(expected_dim)))
    nonfinite = (
        ~is_null
        & ~wrong_dim
        & F.exists(v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf")))
    )
    sq = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    zero_norm = ~is_null & ~wrong_dim & ~nonfinite & (sq == 0.0)
    clean = ~is_null & ~wrong_dim & ~nonfinite & ~zero_norm
    norm = F.sqrt(sq)
    return df.select(
        is_null.alias("__null"), wrong_dim.alias("__wd"),
        nonfinite.alias("__nf"), zero_norm.alias("__zn"),
        clean.alias("__ok"),
        F.when(clean, norm).alias("__norm"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.col("__null").cast("int")).cast("bigint").alias("n_null"),
        F.sum(F.col("__wd").cast("int")).cast("bigint").alias("n_wrong_dim"),
        F.sum(F.col("__nf").cast("int")).cast("bigint").alias("n_nonfinite"),
        F.sum(F.col("__zn").cast("int")).cast("bigint").alias("n_zero_norm"),
        F.sum(F.col("__ok").cast("int")).cast("bigint").alias("n_clean"),
        F.min("__norm").alias("norm_min"),
        F.avg("__norm").alias("norm_mean"),
        F.max("__norm").alias("norm_max"),
    )


def oracle_embedding_hygiene_sql(
    rows_sql: str, vec_col: str, expected_dim: int
) -> str:
    """DuckDB twin of :func:`embedding_hygiene`."""
    v = f"{vec_col}::double[]"
    nf = (f"len(list_filter({v}, x -> x IS NULL OR isnan(x) "
          f"OR abs(x) = 'infinity'::double)) > 0")
    sq = f"list_sum(list_transform({v}, x -> x * x))"
    return f"""
WITH rows_in AS ({rows_sql}),
c AS (
  SELECT ({vec_col} IS NULL) AS is_null,
         ({vec_col} IS NOT NULL AND len({v}) <> {int(expected_dim)}) AS wd,
         ({vec_col} IS NOT NULL AND len({v}) = {int(expected_dim)}
          AND ({nf})) AS nf,
         ({vec_col} IS NOT NULL AND len({v}) = {int(expected_dim)}
          AND NOT ({nf}) AND {sq} = 0.0) AS zn,
         CASE WHEN {vec_col} IS NOT NULL
                   AND len({v}) = {int(expected_dim)}
                   AND NOT ({nf}) AND {sq} <> 0.0
              THEN sqrt({sq}) END AS norm
  FROM rows_in
)
SELECT count(*)::bigint AS n_vectors,
       sum(is_null::int)::bigint AS n_null,
       sum(wd::int)::bigint AS n_wrong_dim,
       sum(nf::int)::bigint AS n_nonfinite,
       sum(zn::int)::bigint AS n_zero_norm,
       sum((norm IS NOT NULL)::int)::bigint AS n_clean,
       min(norm) AS norm_min, avg(norm) AS norm_mean,
       max(norm) AS norm_max
FROM c"""
