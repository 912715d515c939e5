"""Similarity search over embedding columns (array<float>).

Brute-force exact cosine top-k as the correctness baseline, and a
random-hyperplane LSH-bucketed variant as the scale path (candidate
generation via equi-join on bucket signature instead of a full cross
join). Dot products are native `zip_with` + `aggregate` higher-order
functions — JVM-side, no UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a, b):
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector. The query set
    is broadcast (it is small by construction); the corpus streams —
    this is the O(|Q|·|C|) baseline, correct at any corpus size as long
    as |Q| is bounded. Returns (query_id, neighbor_id, cosine, rank)."""
    from pyspark.sql import Window as W

    # norms are staged per SIDE before the join: cosine_expr inline would
    # re-fold each corpus vector's norm once per query (and each query's
    # per corpus row). Same float ops in the same order — dot / (q_norm *
    # c_norm) — so the value is bit-identical; only the redundant
    # re-evaluation goes away (|Q|+|C| norm folds instead of 2·|Q|·|C|).
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm_expr(F.col(vec_col)).alias("__q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
        norm_expr(F.col(vec_col)).alias("__c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot_expr(F.col("q_vec"), F.col("c_vec"))
            / (F.col("__q_norm") * F.col("__c_norm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_signature(vec_col, planes: np.ndarray):
    """Bit-signature column: sign of <plane_i, v> per hyperplane, packed
    into a long. Planes are literal arrays (deterministic seeded
    hyperplanes baked into the plan, broadcast-free)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = (dot_expr(vec_col, plane) > 0).cast("long")
        sig = sig + F.shiftleft(bit, i)
    return sig


def make_planes(dim: int, n_planes: int = 12, seed: int = 20_240_601) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 3,
    seed: int = 20_240_601,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Approximate all-pairs top-k: hyperplane signature split into
    bands; docs sharing a band bucket are candidates (equi-join), exact
    cosine computed only within buckets. Recall grows with bands;
    cost stays ~linear in corpus size × bucket occupancy. Buckets
    larger than `max_bucket` are dropped before the self-join — a
    degenerate bucket (zero vectors, near-identical embeddings) would
    otherwise cost O(bucket²) dot products."""
    from pyspark.sql import Window as W

    planes = make_planes(dim, n_planes, seed)
    per = n_planes // n_bands
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_signature(F.col(vec_col), planes).alias("sig"),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * per)
                .bitwiseAND(F.lit((1 << per) - 1))
                .alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select("id", "vec", F.explode(band_arr).alias("bk")).select(
        "id", "vec", "bk.band", "bk.bucket"
    )
    bucket_ok = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") <= max_bucket)
        .select("band", "bucket")
    )
    banded = banded.join(bucket_ok, ["band", "bucket"])
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
            F.col("a.vec").alias("q_vec"),
            F.col("b.vec").alias("c_vec"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """IVF coarse quantizer, sampled-centroid flavor: the centroids are
    the `n_centroids` corpus vectors with the smallest md5(id) — a
    deterministic, engine-reproducible stand-in for k-means seeding
    (k-means++ iterations refine recall but the inverted-file structure
    and query path are identical; the hash pick is also how you seed
    k-means at 100 TB without a full pass). Returns
    (centroid_id, centroid_vec).

    Plan shape: orderBy().limit() compiles to TakeOrderedAndProject —
    each partition keeps its local top-`n_centroids` and the driver
    merges those few rows. (A global row_number window here would
    shuffle the ENTIRE corpus of vectors into one task.) The numbering
    window then runs over just the selected handful."""
    from pyspark.sql import Window as W

    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    top = df.select(id_col, vec_col).orderBy(*order).limit(n_centroids)
    w = W.orderBy(*order)
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .select(
            (F.col("__rn") - 1).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
            F.col(id_col).alias("centroid_src_id"),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (ties →
    lowest centroid_id). Centroids are broadcast (there are dozens-to-
    thousands of them, never corpus-scale), so assignment is a map-side
    pass over the corpus — the IVF build step. Returns
    (vec_id, centroid_id, cosine)."""
    from pyspark.sql import Window as W

    scored = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    ).crossJoin(F.broadcast(centroids.select("centroid_id", "centroid_vec")))
    scored = scored.withColumn(
        "cosine", cosine_expr(F.col("vec"), F.col("centroid_vec"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("centroid_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "centroid_id", "cosine")
    )


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Query-side IVF routing: the `n_probe` nearest cells per query
    (cosine desc, tie → lowest centroid_id). Centroids broadcast, so
    routing is a map-side pass over the query set. Returns
    (query_id, q_vec, centroid_id) — n_probe rows per query."""
    from pyspark.sql import Window as W

    q_scored = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).crossJoin(F.broadcast(centroids.select("centroid_id", "centroid_vec")))
    qw = W.partitionBy("query_id").orderBy(
        F.desc(cosine_expr(F.col("q_vec"), F.col("centroid_vec"))),
        F.asc("centroid_id"),
    )
    return (
        q_scored.withColumn("__rn", F.row_number().over(qw))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "q_vec", "centroid_id")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-flat approximate all-pairs top-k: corpus vectors live in their
    nearest-centroid cell; each query probes its `n_probe` closest cells
    and scores exact cosine only against those cells' members. Cost is
    corpus_size × (n_probe / n_centroids) dot products instead of
    corpus², and the cell join is an equi-join on centroid_id — the same
    shuffle-not-crossjoin shape as lsh_topk, but with data-adaptive
    cells. Returns (query_id, neighbor_id, cosine, rank)."""
    from pyspark.sql import Window as W

    cents = ivf_centroids(df, id_col, vec_col, n_centroids)
    # corpus side: every vector in its single nearest cell
    corpus = ivf_assign(df, cents, id_col, vec_col).join(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "centroid_id", "c_vec")

    probes = ivf_probes(df, cents, id_col, vec_col, n_probe)

    cand = (
        probes.join(corpus, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bound ANN scale path
# ---------------------------------------------------------------------------

def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    n_codewords: int = 16,
) -> list[list[list[float]]]:
    """Sampled PQ codebooks: ``codebooks[m][k]`` is the m-th subvector of
    the k-th hash-min sample vector (same deterministic seeding trick as
    `ivf_centroids`, so the DuckDB oracle can reproduce it; Lloyd
    iterations would refine distortion but the encode/ADC machinery is
    identical). Collected to the driver — K·D floats, kilobytes — for
    broadcast into literal expressions."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codewords)
        .collect()
    )
    dim = len(rows[0][vec_col])
    sub = dim // n_subspaces
    return [
        [[float(r[vec_col][m * sub + j]) for j in range(sub)] for r in rows]
        for m in range(n_subspaces)
    ]


def _sq_l2(sub_vec, codeword_arr):
    """Σ (x_j − c_j)² via zip_with + aggregate — a LEFT-TO-RIGHT fold in
    index order, same as the DuckDB oracle's list_sum, so the doubles
    are bit-identical across engines (summation order matters). HOFs
    keep the expression tree small: unrolling M·K·sub literal terms was
    measured to blow past the codegen method-size limit and fall back
    to interpreted evaluation (~50× slower)."""
    return F.aggregate(
        F.zip_with(
            sub_vec, codeword_arr,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _codebook_lit(cws: list[list[float]]):
    """K×sub literal array of one subspace's codewords."""
    return F.array(*[
        F.array(*[F.lit(float(c)) for c in cw]) for cw in cws
    ])


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as M small codes: ``code[m] = argmin_k
    L2²(subvec_m, codebook[m][k])`` (ties → lowest k). 64 bits per
    vector at M=4/K=16 versus 64 floats — the 32× compression that lets
    a 100 TB corpus' index live in executor memory. All-expression
    (WholeStageCodegen): M·K literal distance terms per row, no UDF.
    Returns (id, code: array<int>)."""
    sub = len(codebooks[0][0])
    code_cols = []
    for m, cws in enumerate(codebooks):
        sub_vec = F.slice(F.col(vec_col), m * sub + 1, sub)
        dists = F.transform(
            _codebook_lit(cws), lambda cw: _sq_l2(sub_vec, cw)
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return df.select(
        F.col(id_col).alias("id"), F.array(*code_cols).alias("code")
    )


def adc_tables_expr(q_vec_col, codebooks: list[list[list[float]]]):
    """Per-query M×K ADC lookup table: ``dtab[m][k]`` is the exact L2²
    distance from the query's m-th subvector to codeword k — the same
    left-to-right fold as `pq_encode`, so table entries are bit-identical
    to the encode-side distances (and to the DuckDB oracle). NOTE: the
    transform lambda must take exactly ONE parameter — F.transform passes
    the element INDEX to a second parameter, so the common `lambda cw,
    m=m:` default-binding idiom silently rebinds m to 0..K-1."""
    sub = len(codebooks[0][0])

    def _table(m: int, cws) -> "F.Column":
        sv = F.slice(q_vec_col, m * sub + 1, sub)
        return F.transform(_codebook_lit(cws), lambda cw: _sq_l2(sv, cw))

    return F.array(*[_table(m, cws) for m, cws in enumerate(codebooks)])


def adc_dist_expr(dtab_col, code_col, n_subspaces: int):
    """``Σ_m dtab[m][code[m]]`` — M array lookups per (query, vector)
    instead of D multiplies."""
    adc = F.lit(0.0)
    for m in range(n_subspaces):
        adc = adc + F.element_at(
            F.element_at(dtab_col, m + 1),
            F.element_at(code_col, m + 1) + 1,
        )
    return adc


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k: each query precomputes an M×K lookup
    table of exact subspace distances to every codeword, and a corpus
    vector's approximate distance is ``Σ_m table[m][code[m]]`` — M array
    lookups per (query, vector) instead of D multiplies, over the 32×
    smaller encoded corpus. Queries broadcast; per-query top-k via
    window. Returns (query_id, neighbor_id, adc_dist, rank).

    SCALE NOTE: this is the *unrouted* ADC baseline — every query scans
    the whole encoded corpus (linear, memory-light, exact-ADC). For the
    production composition that bounds work to probed cells, use
    `ivfpq_topk`."""
    from pyspark.sql import Window as W

    n_subspaces = len(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q = q.select("query_id", adc_tables_expr(F.col("q_vec"), codebooks).alias("dtab"))
    adc = adc_dist_expr(F.col("dtab"), F.col("code"), n_subspaces)
    scored = (
        encoded.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            adc.alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codewords: int = 16,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF×PQ composition — the production ANN plan at 100 TB. The index
    is (cell, PQ code) per corpus vector: IVF assignment partitions the
    corpus into `n_centroids` cells (broadcast-centroid map pass), PQ
    encodes each vector into M small codes (32× compression, so the
    index fits executor memory). A query routes to its `n_probe`
    nearest cells (`ivf_probes`, broadcast centroids) and runs
    asymmetric-distance scoring ONLY against those cells' members via an
    equi-join on centroid_id — candidate work is Σ probed-cell sizes,
    i.e. ~corpus × n_probe/n_centroids, never |corpus|·|queries| (the
    `pq_adc_topk` crossJoin this replaces). Returns
    (query_id, neighbor_id, adc_dist, rank).

    Recasts the ANN scale path the reference's drift engine would need
    for embedding-cohort comparison; structure follows Jégou et al.,
    "Product Quantization for Nearest Neighbor Search" (IVFADC),
    re-expressed as DataFrame equi-joins."""
    from pyspark.sql import Window as W

    cents = ivf_centroids(df, id_col, vec_col, n_centroids)
    cbs = pq_codebooks(df, id_col, vec_col, n_subspaces, n_codewords)

    # index build: one (cell, code) row per corpus vector
    assign = ivf_assign(df, cents, id_col, vec_col).select(
        F.col("vec_id").alias("id"), "centroid_id"
    )
    cells = pq_encode(df, cbs, id_col, vec_col).join(assign, "id")

    # query routing + per-query ADC tables (computed once per probe row;
    # the table is M·K folds over literal codewords — cheap next to the
    # per-candidate work it replaces)
    q = queries if queries is not None else df
    probes = ivf_probes(q, cents, id_col, vec_col, n_probe).select(
        "query_id",
        "centroid_id",
        adc_tables_expr(F.col("q_vec"), cbs).alias("dtab"),
    )

    cand = (
        probes.join(cells, "centroid_id")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            adc_dist_expr(F.col("dtab"), F.col("code"), n_subspaces).alias(
                "adc_dist"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def ivfpq_refined_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    refine: int = 30,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 4,
    n_codewords: int = 16,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF×PQ with exact re-ranking (the FAISS `refine` stage): take the
    top-`refine` ADC candidates per query from `ivfpq_topk`, fetch their
    FULL vectors, and re-rank by exact cosine. ADC's quantization error
    mostly perturbs *ordering* near the cut, so re-ranking refine ≥ 2-3k
    candidates recovers almost all of the exact-within-probed-cells
    recall at the cost of `refine` full-vector distance computations per
    query — a |queries|·refine equi-join against the corpus, NOT a scan.

    Returns (query_id, neighbor_id, cosine, rank)."""
    from pyspark.sql import Window as W

    cand = ivfpq_topk(
        df, id_col, vec_col, k=refine, n_centroids=n_centroids,
        n_probe=n_probe, n_subspaces=n_subspaces,
        n_codewords=n_codewords, queries=queries,
    ).select("query_id", "neighbor_id")
    q = (queries if queries is not None else df).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    corpus = df.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("n_vec"))
    scored = (
        cand.join(corpus, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("q_vec"), F.col("n_vec")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"),
                                          F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
