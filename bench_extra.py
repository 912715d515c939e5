#!/usr/bin/env python
"""Round-6 optimization profiling harness (guide §1: measure first).

Separate from the FROZEN bench.py. Modes:

  python bench_extra.py micro [n_docs]
      Pure-Python timing of the fused-UDF components (langid, perplexity,
      scrub) over generated pages text — no Spark, isolates the Python
      kernel cost per document.

  python bench_extra.py stages [n_docs]
      Spark staged timing of the pipeline transform with the noop sink:
      scan, +features, +repetition, +line/cc, +scoring UDF, full
      transform, full transform+write. Shows where transform_write time
      goes.

  python bench_extra.py headline
      Per-headline-query noop timing (3 runs each, min) at
      $SPARK_GRAFT_SF_DIR.

  python bench_extra.py explain <query> <out_file>
      Write .explain("formatted") for a declared query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def gen_texts(n_docs: int):
    from baselinr_spark.sources.pages import generate_pages_pandas

    pdf = generate_pages_pandas(n_docs, seed=42)
    return list(pdf["text"])


def mode_micro(n_docs: int = 20000) -> None:
    from baselinr_spark.functions.langid import build_model as lid_model, langid_batch
    from baselinr_spark.functions.perplexity import (
        build_model as ppl_model,
        perplexity_batch,
    )
    from baselinr_spark.functions.scrub import scrub_python

    texts = gen_texts(n_docs)
    lid = lid_model()
    ppl = ppl_model()
    # warm numpy/caches
    langid_batch(texts[:100], lid)
    perplexity_batch(texts[:100], ppl)
    [scrub_python(t) for t in texts[:100]]

    out = {}
    for name, fn in (
        ("langid", lambda: langid_batch(texts, lid)),
        ("perplexity", lambda: perplexity_batch(texts, ppl)),
        ("scrub", lambda: [scrub_python(t) for t in texts]),
    ):
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        out[name] = {"sec": round(best, 3),
                     "us_per_doc": round(best / n_docs * 1e6, 1)}
    print(json.dumps({"mode": "micro", "n_docs": n_docs, "components": out}))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _build(cpus: int):
    from baselinr_spark.session import build_session

    return build_session(app_name="bench_extra", master=f"local[{cpus}]")


def mode_stages(n_docs: int = 100000) -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from baselinr_spark.config import DEFAULT_CONFIG
    from baselinr_spark.functions import textfeat
    from baselinr_spark.functions.scoring import make_scoring_udf
    from baselinr_spark.sources.pages import PAGES_LAYOUT_VERSION, write_pages_warehouse
    from baselinr_spark.plans.pipeline import (
        run_pipeline, split_partition_bytes, transform_pages,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _build(cpus)
    pages_dir = os.path.join(
        tempfile.gettempdir(), f"bench_pages_v{PAGES_LAYOUT_VERSION}_{n_docs}"
    )
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        shutil.rmtree(pages_dir, ignore_errors=True)
        write_pages_warehouse(spark, pages_dir, n_docs=n_docs, seed=42)

    # mimic the pipeline's split-mode input sizing (~12 waves/core) so the
    # stage timings have the same scan parallelism as the real job
    nbytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(pages_dir) for f in fs
    )
    split = split_partition_bytes(nbytes, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    cfg = DEFAULT_CONFIG

    def read_pages():
        df = spark.read.parquet(pages_dir)
        return df.select("url", "warc_ts", "text", "dt")

    def st_scan():
        return read_pages()

    def st_features():
        return textfeat.with_features(read_pages())

    def st_repetition():
        df = textfeat.with_features(read_pages())
        return textfeat.with_repetition_features(
            df,
            top_ns=tuple(cfg.max_top_ngram_char_fraction),
            dup_ns=tuple(cfg.max_dup_ngram_char_fraction),
        )

    def st_line_cc():
        df = st_repetition()
        df = textfeat.with_line_features(df)
        return textfeat.with_cc_features(df)

    def st_udf_only():
        udf = make_scoring_udf(spark, include_scrub=True)
        df = read_pages()
        return df.withColumn("_score", udf(F.col("text"))).select(
            "url", "_score.*"
        )

    def st_transform():
        return transform_pages(spark, read_pages(), cfg, "prof")

    stages = [
        ("scan", st_scan),
        ("features", st_features),
        ("udf_only", st_udf_only),
        ("transform", st_transform),
    ]
    if os.environ.get("BENCH_EXTRA_OPTIN_STAGES"):
        stages += [("repetition", st_repetition), ("line_cc", st_line_cc)]
    out = {}
    for name, fn in stages:
        spark.sparkContext.setJobDescription(f"stage:{name}")
        _force(fn())  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _force(fn())
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)

    # full pipeline: one untimed warmup (codegen/JIT/worker spin-up),
    # then best-of-2 timed, reporting the best run's phase split
    best, phases = float("inf"), {}
    for i in range(3):
        wdir = tempfile.mkdtemp(prefix="bx_out_")
        try:
            t0 = time.time()
            s = run_pipeline(spark, pages_dir, wdir, run_id=f"prof{i}",
                             skew_mode="split")
            took = time.time() - t0
            if i > 0 and took < best:
                best, phases = took, s.get("phase_s", {})
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
    out["pipeline_full"] = round(best, 3)
    out["pipeline_phases"] = phases

    print(json.dumps({"mode": "stages", "n_docs": n_docs, "stages": out}))
    spark.stop()


def mode_headline() -> None:
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _build(cpus)
    from bench import HEADLINE

    qs = entrymod.queries()
    out = {}
    for name in HEADLINE:
        spark.sparkContext.setJobDescription(f"headline:{name}")
        df = qs[name](spark, sf_dir)
        df.count()
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    print(json.dumps({"mode": "headline", "sf_dir": sf_dir, "queries": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


def mode_explain(qname: str, out_file: str) -> None:
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _build(cpus)
    qs = entrymod.queries()
    df = qs[qname](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(out_file, "w") as f:
        f.write(buf.getvalue())
    print(f"wrote {out_file}")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "micro"
    if mode == "micro":
        mode_micro(int(sys.argv[2]) if len(sys.argv) > 2 else 20000)
    elif mode == "stages":
        mode_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 100000)
    elif mode == "headline":
        mode_headline()
    elif mode == "explain":
        mode_explain(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(f"unknown mode {mode}")
