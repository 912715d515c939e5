"""Document features: the fused UDF's feature_batch (the spec) against
the independent pandas oracle, and the opt-in JVM feature families."""

import datetime as dt

import pandas as pd
import pytest

from baselinr_spark.functions import synthlang as sl
from baselinr_spark.functions.scoring import feature_batch
from baselinr_spark.oracle.pandas_ref import doc_features
from baselinr_spark.sources.pages import PAGES_DDL, generate_pages_pandas

#: whitespace, line and case-folding edges of the spec; the last rows are
#: the classes where Python's \s, str.lower() or str.strip() would differ
EDGE_TEXTS = [
    None, "", "   \n\n  ", "a", "one", " the ", "x\t\ty", "l1\n\nl2\n \n\t\nx",
    "a\rb", "\r", "THE the The", "one\ntwo\ntwo\n", "\ta\t", "a\na\na\nb",
    "a\x0bb\x0cc", "\x0b\n\x0c",
    # U+212A KELVIN SIGN lowers to 'k' in Python but the spec folds
    # ASCII A-Z only: 'ketgu' is a stopword, the Kelvin spelling is not
    "\u212aetgu", "ketgu \u212aETGU KETGU \u00e9",
    # Unicode whitespace and the \x1c-\x1f separators are word chars
    "a\xa0b c", "x\u2003y", "a\x1cb", "a\x1db", "a\x1eb", "a\x1fb",
    "\xa0", "p\u3000q\u2028r\x85s",
    # CRLF and LF lines: 'a\r' and 'a' are different lines
    "a\r\na\n", "a\r\na\na\r\nb\n", " a \r\n a\n\r\n",
]


def _assert_batch_equals_oracle(texts):
    got = feature_batch(texts, frozenset(sl.all_stopwords()))
    for i, t in enumerate(texts):
        exp = doc_features(t)
        for f, col in got.items():
            assert col[i] == exp[f], (i, f, t, col[i], exp[f])


def test_features_match_oracle():
    _assert_batch_equals_oracle(list(generate_pages_pandas(150, seed=11)["text"]))


def test_features_edge_cases():
    rows = ["", "   \n\n  ", "one", None, "a\na\na\nb"]
    f = [doc_features(t) for t in rows]
    assert f[0]["n_words"] == 0 and f[0]["mean_word_length"] == 0.0
    assert f[1]["n_words"] == 0 and f[1]["dup_line_fraction"] == 0.0
    assert f[2]["n_words"] == 1 and f[2]["mean_word_length"] == 3.0
    assert f[3]["n_words"] == 0
    assert abs(f[4]["dup_line_fraction"] - 0.5) < 1e-12
    _assert_batch_equals_oracle(rows)


@pytest.mark.parametrize("text, field, value", [
    ("a\xa0b c", "n_words", 2),
    ("a\xa0b c", "symbol_ratio", 0.2),
    ("x\u2003y", "n_words", 1),
    ("a\x1cb", "n_words", 1),
    ("a\r\na\n", "dup_line_fraction", 0.0),
    ("l1\n\nl2\n \n\t\nx", "n_lines", 4),
    ("\u212aetgu ketgu", "stopword_fraction", 0.5),
])
def test_oracle_follows_the_spec_on_unicode_edges(text, field, value):
    assert doc_features(text)[field] == value


def test_feature_batch_matches_oracle_on_edges(pages_pdf):
    """Exact equality of every feature_batch field, over the corpus and
    every whitespace/line/folding edge row."""
    _assert_batch_equals_oracle(list(pages_pdf["text"].head(300)) + EDGE_TEXTS)


def test_transform_pages_edge_verdicts_match_reference(spark):
    """Edge docs through transform_pages keep/drop exactly as the pandas
    reference says: this also holds the JVM-side n_chars/symbol_ratio to
    the oracle. Each joined doc is a kept corpus doc's first 60 words
    (over min_words) glued by a Unicode space or a \x1c-\x1f separator,
    which the spec counts as one word."""
    from baselinr_spark.oracle.pandas_ref import reference_labels
    from baselinr_spark.plans.pipeline import transform_pages

    corpus = generate_pages_pandas(40, seed=11)
    kept = reference_labels(corpus)["expected_keep"]
    base = corpus["text"][kept.to_numpy()].iloc[0]
    words = base.split()[:60]
    lines = [ln for ln in base.split("\n") if ln.strip()]
    texts = EDGE_TEXTS + [base] + [
        sep.join(words) for sep in ("\xa0", "\u2003", "\x1c", "\x1f")
    ] + [
        # every line twice, once CRLF- and once LF-terminated
        "".join(f"{ln}\r\n{ln}\n" for ln in lines),
        base.replace("k", "\u212a"),
    ]
    ts = dt.datetime(2024, 1, 1)
    rows = [(f"u{i}", ts, None, t, "aa") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, schema=PAGES_DDL)
    got = {r["url"]: (r["keep"], list(r["drop_reasons"]))
           for r in transform_pages(spark, df).collect()}
    ref = reference_labels(pd.DataFrame({"url": [r[0] for r in rows],
                                         "text": texts}))
    exp = {u: (k, list(d)) for u, k, d in zip(
        ref["url"], ref["expected_keep"], ref["expected_drop_reasons"])}
    assert got == exp


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
