"""The scrub pass: the python spec (`scrub_python`, also the oracle),
its NULL contract through the pipeline's fused scoring UDF, and the
PII co-occurrence helper. Corpus-wide byte identity of the pipeline's
scrubbed text is asserted in test_pipeline_e2e and
test_operators_extra."""

import datetime as dt

from baselinr_spark.functions.scrub import scrub_python
from baselinr_spark.sources.pages import PAGES_DDL


def test_scrub_python_removes_planted_pii():
    text = (
        "contact abcdef@example3.com now\n"
        "call +1-555-1234-9876 today\n"
        "server at 10.2.33.4 responded\n"
        "they said FRAKK loudly\nplain line stays"
    )
    out = scrub_python(text)
    assert out == (
        "contact <EMAIL> now\ncall <PHONE> today\n"
        "server at <IP> responded\nthey said <TOX> loudly\nplain line stays"
    )


def test_scrub_null_passthrough(spark):
    """The fused scoring UDF returns NULL for 'scrub was the identity'
    and transform_pages coalesces with the original text: a NULL-text
    page must come out NULL, a scrubbed page scrubbed, a clean page
    unchanged."""
    from baselinr_spark.plans.pipeline import transform_pages

    rows = [
        ("u-null", dt.datetime(2024, 1, 1), None, None, "en"),
        ("u-pii", dt.datetime(2024, 1, 1), None,
         "mail abcdef@example3.com now", "en"),
        ("u-clean", dt.datetime(2024, 1, 1), None, "plain words", "en"),
    ]
    df = spark.createDataFrame(rows, schema=PAGES_DDL)
    got = {r["url"]: r["scrubbed_text"]
           for r in transform_pages(spark, df).collect()}
    assert got == {
        "u-null": None, "u-pii": "mail <EMAIL> now", "u-clean": "plain words",
    }


def test_pii_cooccurrence_hand_computed(spark):
    """email+phone doc lands in the combined tier, clean doc in
    'none'; shares sum to 1; tox words are NOT PII."""
    from baselinr_spark.functions.scrub import pii_cooccurrence

    rows = [
        ("mail me a@b.example or call +1-555-0100-0000",),
        ("server at 10.0.0.1 blah",),
        ("perfectly clean text",),
        ("a@b.example only",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = {r["pii_types"]: r
           for r in pii_cooccurrence(df, "text").collect()}
    assert got["email+phone"]["n_docs"] == 1
    assert got["ipv4"]["n_docs"] == 1
    assert got["none"]["n_docs"] == 1
    assert got["email"]["n_docs"] == 1
    assert abs(sum(r["doc_share"] for r in got.values()) - 1.0) < 1e-12
