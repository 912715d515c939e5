"""Deterministic synthetic Common-Crawl-style `pages` table.

Shape is exactly the BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Document categories are planted at known rates (FIXTURES.md §1) so the
expected keep/drop decision per category is computable by hand:

    clean         60%  → keep (unless PII-only scrub, which never drops)
    short          8%  → drop: too_short
    symbol_spam    8%  → drop: symbol_ratio
    boilerplate    8%  → drop: dup_lines
    low_stopword   8%  → drop: stopword_fraction
    gibberish      8%  → drop: langid + perplexity

PII tokens (emails / phones / IPv4s) and fake-toxicity lexicon words are
planted into ~30% of documents in *fixed formats* so the scrub pass is
byte-predictable. Domains follow a Zipf distribution so the url-hash
salting path is exercised (FIXTURES.md: "skewed domain distribution").
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

from ..functions import synthlang as sl

CATEGORIES = ("clean", "short", "symbol_spam", "boilerplate", "low_stopword", "gibberish")
_CATEGORY_P = (0.60, 0.08, 0.08, 0.08, 0.08, 0.08)

# fake-toxicity lexicon (obviously synthetic tokens)
TOX_LEXICON = ("frakk", "grumblex", "zorgul", "blathak")

_BASE_DATE = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
_N_DAYS = 10
_DOMAINS = 50

_SYMBOLS = list("#$%^&*{}[]<>|~@!?=+")


def _make_text(rng: np.random.Generator, category: str, lang: str) -> str:
    if category == "clean":
        n = int(rng.integers(80, 400))
        return sl.words_to_lines(rng, sl.sample_words(rng, lang, n))
    if category == "short":
        n = int(rng.integers(5, 35))
        return sl.words_to_lines(rng, sl.sample_words(rng, lang, n))
    if category == "symbol_spam":
        n = int(rng.integers(80, 200))
        words = sl.sample_words(rng, lang, n)
        # splice runs of symbols into ~40% of words
        out = []
        for w in words:
            if rng.random() < 0.4:
                sym = "".join(rng.choice(_SYMBOLS, size=int(rng.integers(2, 6))))
                out.append(w + sym)
            else:
                out.append(w)
        return sl.words_to_lines(rng, out)
    if category == "boilerplate":
        # few distinct lines repeated many times → dup_line_fraction > 0.3
        n_lines = int(rng.integers(12, 30))
        n_distinct = int(rng.integers(2, max(3, n_lines // 4)))
        base_lines = [
            " ".join(sl.sample_words(rng, lang, int(rng.integers(8, 14)))) + "."
            for _ in range(n_distinct)
        ]
        lines = [base_lines[int(rng.integers(0, n_distinct))] for _ in range(n_lines)]
        return "\n".join(lines)
    if category == "low_stopword":
        n = int(rng.integers(80, 250))
        return sl.words_to_lines(rng, sl.sample_words(rng, lang, n, exclude_stopwords=True))
    if category == "gibberish":
        n = int(rng.integers(80, 250))
        return sl.words_to_lines(rng, sl.gibberish_words(rng, n))
    raise ValueError(category)


def _plant_pii(rng: np.random.Generator, text: str) -> str:
    """Insert PII tokens / lexicon words on their own line positions, in
    fixed formats matched exactly by functions/scrub.py patterns."""
    lines = text.split("\n")
    inserts: list[str] = []
    if rng.random() < 0.6:
        user = "".join(rng.choice(list("abcdefgh"), size=6))
        inserts.append(f"contact {user}@example{int(rng.integers(1, 9))}.com now")
    if rng.random() < 0.4:
        inserts.append(
            f"call +1-{int(rng.integers(200, 999))}-{int(rng.integers(1000, 9999))}"
            f"-{int(rng.integers(1000, 9999))} today"
        )
    if rng.random() < 0.4:
        ip = ".".join(str(int(rng.integers(1, 255))) for _ in range(4))
        inserts.append(f"server at {ip} responded")
    if rng.random() < 0.3:
        tox = TOX_LEXICON[int(rng.integers(0, len(TOX_LEXICON)))]
        inserts.append(f"they said {tox} loudly")
    for ins in inserts:
        pos = int(rng.integers(0, len(lines) + 1))
        lines.insert(pos, ins)
    return "\n".join(lines)


def generate_pages_pandas(n_docs: int, seed: int = 42,
                          include_category: bool = False) -> pd.DataFrame:
    """Generate the pages table as a pandas DataFrame (driver-side; used
    for unit fixtures and for seeding the partitioned warehouse)."""
    rng = np.random.default_rng(seed)
    cat_idx = rng.choice(len(CATEGORIES), size=n_docs, p=_CATEGORY_P)
    lang_idx = rng.choice(len(sl.LANGS), size=n_docs)
    day_p = sl.zipf_probs(_N_DAYS, a=0.7)  # mildly skewed partition sizes
    days = rng.choice(_N_DAYS, size=n_docs, p=day_p)
    secs = rng.integers(0, 86_400, size=n_docs)
    domain_p = sl.zipf_probs(_DOMAINS, a=1.3)  # skewed domains
    domains = rng.choice(_DOMAINS, size=n_docs, p=domain_p)

    rows = []
    for i in range(n_docs):
        category = CATEGORIES[cat_idx[i]]
        lang = sl.UNKNOWN_LANG if category == "gibberish" else sl.LANGS[lang_idx[i]]
        text = _make_text(rng, category, lang if lang != sl.UNKNOWN_LANG else "aa")
        if rng.random() < 0.30:
            text = _plant_pii(rng, text)
        path = "".join(rng.choice(list("0123456789abcdef"), size=12))
        url = f"https://www.site{domains[i]:03d}.example/{path}"
        ts = _BASE_DATE + dt.timedelta(days=int(days[i]), seconds=int(secs[i]))
        html = None if rng.random() < 0.02 else (
            b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        )
        row = {"url": url, "warc_ts": ts.replace(tzinfo=None), "html": html,
               "text": text, "lang": lang}
        if include_category:
            row["_category"] = category
        rows.append(row)
    return pd.DataFrame(rows)


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

# bump whenever write_pages_warehouse changes the on-disk layout (file
# counts, repartitioning, schema) — bench caches key on it so a stale
# warehouse from older generator code is never silently reused
PAGES_LAYOUT_VERSION = 3


def write_pages_warehouse(spark, out_dir: str, n_docs: int, seed: int = 42) -> None:
    """Materialize the pages table as a dt-partitioned parquet warehouse
    (the days(warc_ts) Iceberg partition transform, emulated — see
    sources/catalog.py for why parquet instead of Iceberg here), read by
    Spark from one pyarrow-written temporary file beside `out_dir`."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    pdf = generate_pages_pandas(n_docs, seed=seed)
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    parent = os.path.dirname(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix=".pages-", dir=parent) as tmp:
        src = os.path.join(tmp, "pages.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), src,
                       coerce_timestamps="us")
        df = spark.read.schema(PAGES_DDL).parquet(src)
        # Salt on url-hash: 8 files per dt keep the scan parallel beyond
        # the 10 partitions without a small-file explosion.
        salt = F.pmod(F.xxhash64("url"), F.lit(8))
        (df.withColumn("dt", F.to_date("warc_ts"))
           .repartition(80, F.col("dt"), salt)
           .write.mode("overwrite").partitionBy("dt")
           # a scan split is never smaller than a row group: 4 MB groups
           # give split mode (and auto's row-group rule) real
           # granularity, as Iceberg's target file size does
           .option("parquet.block.size", str(4 * 1024 * 1024))
           .parquet(out_dir))
