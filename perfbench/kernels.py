"""Layer probes for ``baselinr_spark.functions``: a pure-Python kernel
microbenchmark (no Spark) and an identity-UDF floor scan that prices the
Arrow boundary alone, both as ``pandas_udf`` and as ``F.arrow_udf``."""

import statistics
import time

import pandas as pd


def kernel_us_per_doc(texts: list[str], reps: int = 3) -> dict[str, float]:
    """Median µs/doc of each kernel the fused scoring UDF calls, over the
    given texts (taken from the run's seeded warehouse)."""
    from baselinr_spark.functions import synthlang as sl
    from baselinr_spark.functions.langid import build_model as lid_model
    from baselinr_spark.functions.langid import langid_batch
    from baselinr_spark.functions.perplexity import build_model as ppl_model
    from baselinr_spark.functions.perplexity import perplexity_batch
    from baselinr_spark.functions.scoring import feature_batch
    from baselinr_spark.functions.scrub import scrub_python

    lid, ppl = lid_model(), ppl_model()
    stopset = frozenset(sl.all_stopwords())
    kernels = {
        "langid": lambda: langid_batch(texts, lid),
        "perplexity": lambda: perplexity_batch(texts, ppl),
        "scrub": lambda: [scrub_python(t) for t in texts],
        "feature_batch": lambda: feature_batch(texts, stopset),
    }
    out = {}
    for name, fn in kernels.items():
        fn()  # warm caches
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        out[name] = statistics.median(samples) / len(texts) * 1e6
    return out


def _identity_series(s: pd.Series) -> pd.Series:
    return s


def identity_floor_s(spark, pages_dir: str, reps: int = 2) -> dict[str, float]:
    """Median seconds to scan the warehouse text through an identity UDF
    into a noop sink: the Arrow round trip with no kernel work."""
    from pyspark.sql import functions as F

    ident_pandas = F.pandas_udf(_identity_series, "string")
    ident_arrow = F.arrow_udf(lambda a: a, "string")
    out = {}
    for name, udf in (("pandas", ident_pandas), ("arrow", ident_arrow)):
        df = spark.read.parquet(pages_dir).select(udf(F.col("text")).alias("t"))
        df.write.format("noop").mode("overwrite").save()  # warm workers
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        out[name] = statistics.median(samples)
    return out
