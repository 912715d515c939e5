"""Spark native-expression features vs the independent pandas oracle."""

import math

from pyspark.sql import functions as F

from baselinr_spark.functions.textfeat import FEATURE_COLS, with_features
from baselinr_spark.oracle.pandas_ref import doc_features
from baselinr_spark.sources.pages import PAGES_DDL, generate_pages_pandas


def test_features_match_oracle(spark):
    pdf = generate_pages_pandas(150, seed=11)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    got = {r["url"]: r.asDict() for r in with_features(df).collect()}
    assert len(got) == len(pdf)
    for _, row in pdf.iterrows():
        exp = doc_features(row["text"])
        g = got[row["url"]]
        for k in FEATURE_COLS:
            assert math.isclose(float(g[k]), float(exp[k]), rel_tol=1e-12, abs_tol=1e-12), (
                row["url"], k, g[k], exp[k])


def test_features_edge_cases(spark):
    rows = [
        ("u1", ""),            # empty
        ("u2", "   \n\n  "),   # whitespace only
        ("u3", "one"),
        ("u4", None),          # null text
        ("u5", "a\na\na\nb"),  # dup lines 2/4 distinct
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["url"]: r.asDict() for r in with_features(df).collect()}
    assert got["u1"]["n_words"] == 0 and got["u1"]["mean_word_length"] == 0.0
    assert got["u2"]["n_words"] == 0 and got["u2"]["dup_line_fraction"] == 0.0
    assert got["u3"]["n_words"] == 1 and got["u3"]["mean_word_length"] == 3.0
    assert got["u4"]["n_words"] == 0
    assert abs(got["u5"]["dup_line_fraction"] - 0.5) < 1e-12
    for u, t in rows:
        exp = doc_features(t)
        for k in FEATURE_COLS:
            assert math.isclose(float(got[u][k]), float(exp[k]), abs_tol=1e-12)


def test_repetition_features_hand_computed(spark):
    from baselinr_spark.functions.textfeat import with_repetition_features

    df = spark.createDataFrame(
        [(1, "a b a b a b c d"), (2, "x y z w"), (3, "")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in with_repetition_features(
        df, top_ns=(2,), dup_ns=(2,)).collect()}
    # doc1 2-grams: [a b, b a, a b, b a, a b, b c, c d] — "a b"×3, "b a"×2
    # tot chars = 7·3 = 21; top = 3·3 = 9; dup = (3+2)·3 = 15
    assert abs(rows[1]["top_2gram_char_fraction"] - 9 / 21) < 1e-12
    assert abs(rows[1]["dup_2gram_char_fraction"] - 15 / 21) < 1e-12
    # no repeats: top counts the (singleton) most common gram, dup is 0
    assert abs(rows[2]["top_2gram_char_fraction"] - 3 / 9) < 1e-12
    assert rows[2]["dup_2gram_char_fraction"] == 0.0
    assert rows[3]["top_2gram_char_fraction"] == 0.0


def test_line_features_hand_computed(spark):
    from baselinr_spark.functions.textfeat import with_line_features

    df = spark.createDataFrame(
        [(4, "- one\n- two\n* three\nfour...\nend."),
         (5, "lorem IPSUM {code} 1 2 3 abc")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in with_line_features(df).collect()}
    assert abs(rows[4]["bullet_line_fraction"] - 3 / 5) < 1e-12
    assert abs(rows[4]["ellipsis_line_fraction"] - 1 / 5) < 1e-12
    # '...' also ends with '.' — counted in both fractions by design
    assert abs(rows[4]["terminal_punct_line_fraction"] - 2 / 5) < 1e-12
    assert rows[5]["has_lorem_ipsum"] and rows[5]["has_curly_brace"]
    assert abs(rows[5]["alpha_word_fraction"] - 4 / 7) < 1e-12


def test_repetition_and_line_rules_fire(spark):
    from baselinr_spark.config import FilterConfig
    from baselinr_spark.functions.textfeat import (
        line_rule_columns,
        repetition_rule_columns,
        with_line_features,
        with_repetition_features,
        with_verdict,
    )

    cfg = FilterConfig(repetition_rules=True, line_rules=True)
    df = spark.createDataFrame(
        [(1, " ".join(["spam spam"] * 30)),      # top-2gram ≫ 0.20
         (2, "lorem ipsum " + " ".join(f"w{i}" for i in range(60)))],
        "doc_id int, text string",
    )
    feats = with_line_features(with_repetition_features(
        df, top_ns=tuple(cfg.max_top_ngram_char_fraction),
        dup_ns=tuple(cfg.max_dup_ngram_char_fraction)))
    rules = {**repetition_rule_columns(cfg), **line_rule_columns(cfg)}
    rows = {r["doc_id"]: r for r in with_verdict(feats, rules).collect()}
    assert "top_2gram" in rows[1]["drop_reasons"] and not rows[1]["keep"]
    assert rows[2]["drop_reasons"] == ["lorem_ipsum"]


def test_repetition_fold_matches_counter_reference(spark):
    """Property test: the sorted-run F.aggregate fold equals an
    independent collections.Counter implementation on random word
    soups (one Spark round-trip for all cases)."""
    import random
    from collections import Counter

    from baselinr_spark.functions.textfeat import with_repetition_features

    rng = random.Random(7)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    cases = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for _ in range(60)
    ] + ["", "solo", "x " * 30]

    def ref(text, n):
        words = [w for w in text.split() if w]
        grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
        if not grams:
            return 0.0, 0.0
        c = Counter(grams)
        tot = sum(cnt * len(g) for g, cnt in c.items())
        # ties: lexicographically smallest gram among max counts
        top_g = min(g for g, cnt in c.items() if cnt == max(c.values()))
        top = c[top_g] * len(top_g)
        dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
        return top / tot, dup / tot

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id int, text string")
    out = {r["doc_id"]: r for r in with_repetition_features(
        df, top_ns=(2, 3), dup_ns=(2, 5)).collect()}
    for i, t in enumerate(cases):
        for n in (2, 3):
            top, _ = ref(t, n)
            assert abs(out[i][f"top_{n}gram_char_fraction"] - top) < 1e-12, (i, n, t)
        for n in (2, 5):
            _, dup = ref(t, n)
            assert abs(out[i][f"dup_{n}gram_char_fraction"] - dup) < 1e-12, (i, n, t)


def test_udf_features_match_jvm_features(spark, pages_pdf):
    """The fused-UDF word/line features (functions/scoring.feature_batch)
    must equal textfeat.with_features' JVM expressions value-for-value —
    the pipeline computes them python-side since round 6."""
    from pyspark.sql import functions as F

    from baselinr_spark.functions import synthlang as sl
    from baselinr_spark.functions.scoring import FEATURE_FIELDS, feature_batch
    from baselinr_spark.functions.textfeat import with_features

    rows = list(pages_pdf["text"].head(300)) + [
        None, "", "   \n\n  ", "a", " the ", "x\t\ty", "l1\n\nl2\n \n\t\nx",
        "a\rb", "\r", "THE the The", "one\ntwo\ntwo\n", "\ta\t", "a\na\na\nb",
        # U+212A KELVIN SIGN lowers to 'k' in Python but not under Java's
        # ASCII-only (?i): 'ketgu' is a stopword, the Kelvin spelling is not
        "\u212aetgu", "ketgu \u212aETGU KETGU \u00e9",
    ]
    df = spark.createDataFrame([(t,) for t in rows], "text string")
    jvm = with_features(df).select("text", *FEATURE_FIELDS).collect()
    py = feature_batch(rows, frozenset(sl.all_stopwords()))
    for i, r in enumerate(jvm):
        for f in FEATURE_FIELDS:
            assert r[f] == py[f][i], (i, f, r["text"], r[f], py[f][i])
