"""Output checks. They run untimed after the ops of every run, read the
outputs with pyarrow/DuckDB (not Spark), and return a list of failure
messages: an empty list means the outputs are correct."""

from __future__ import annotations

import hashlib
import math
import os

import pyarrow.dataset as ds

DIGEST_COLS = ("url", "keep", "drop_reasons", "lang", "perplexity",
               "scrubbed_text")


def _read(path: str, partition_col: str | None = None):
    part = ds.partitioning(flavor="hive") if partition_col else None
    return ds.dataset(path, format="parquet", partitioning=part).to_table()


def docs_digest(output_root: str) -> str:
    """sha256 over the docs table's verdict columns, rows ordered by url."""
    t = _read(os.path.join(output_root, "docs"), "dt").select(list(DIGEST_COLS))
    t = t.sort_by("url")
    h = hashlib.sha256()
    for c in DIGEST_COLS:
        h.update(repr(t.column(c).to_pylist()).encode())
    return h.hexdigest()


def pipeline_outputs(output_root: str, partitions: list[str], n_docs: int,
                     summaries: list[dict]) -> list[str]:
    """Counts, one manifest and one lineage row per partition, and — for
    a rerun — every partition skipped."""
    from baselinr_spark.sources.manifest import manifest_path

    bad = []
    first = summaries[0]
    if first["doc_count"] != n_docs:
        bad.append(f"doc_count {first['doc_count']} != generated {n_docs}")
    if sorted(first["partitions_processed"]) != partitions:
        bad.append(f"processed {first['partitions_processed']} != {partitions}")
    man = _read(manifest_path(output_root)).column("partition").to_pylist()
    if sorted(man) != partitions:
        bad.append(f"manifest rows {sorted(man)} != one per partition")
    lin = _read(os.path.join(output_root, "lineage"), "partition_key")
    if sorted(lin.column("partition").to_pylist()) != partitions:
        bad.append("lineage rows != one per partition")
    elif sum(lin.column("doc_count").to_pylist()) != n_docs:
        bad.append("lineage doc counts do not sum to the generated docs")
    for s in summaries[1:]:
        if s["partitions_skipped"] != s["partitions_total"]:
            bad.append(f"rerun skipped {s['partitions_skipped']} of "
                       f"{s['partitions_total']} partitions")
    return bad


def reference_docs(output_root: str, pages_dir: str) -> list[str]:
    """Every doc matches the pure-pandas reference filter (exact verdicts
    and text, perplexity to 1e-9)."""
    from baselinr_spark.oracle.pandas_ref import reference_labels

    pages = _read(pages_dir, "dt").select(["url", "text"]).to_pandas()
    ref = reference_labels(pages).set_index("url")
    docs = _read(os.path.join(output_root, "docs"), "dt").to_pandas()
    docs = docs.set_index("url")
    if sorted(docs.index) != sorted(ref.index):
        return ["docs urls differ from the generated pages"]
    docs = docs.loc[ref.index]
    bad = []
    for url, r, d in zip(ref.index, ref.itertuples(), docs.itertuples()):
        if (bool(d.keep) != bool(r.expected_keep)
                or list(d.drop_reasons) != list(r.expected_drop_reasons)
                or d.lang != r.expected_lang
                or d.scrubbed_text != r.expected_scrubbed_text
                or not math.isclose(d.perplexity, r.expected_perplexity,
                                    rel_tol=1e-9)):
            bad.append(f"doc {url} differs from the reference filter")
    return bad


def analytics_results(results: dict, data_dir: str) -> list[str]:
    """Each query's collected rows equal its DuckDB oracle twin, compared
    with the gate's own ``compare``."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_gate import compare

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * "
                        f"FROM read_parquet('{os.path.join(data_dir, name)}')")
    oracles = entry.oracle_sql()
    bad = []
    for name, pdf in results.items():
        problems = compare(name, pdf, con.execute(oracles[name]).df())
        bad += [f"{name}: {p}" for p in problems]
    con.close()
    return bad
