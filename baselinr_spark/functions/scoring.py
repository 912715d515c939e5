"""Fused model-scoring pandas UDF: langid + perplexity + word/line
features + PII/toxicity scrub in ONE Arrow round trip.

The scorers are independent per-document functions over the same input,
so running them as separate UDFs would ship the full ``text`` column
across the JVM↔Python boundary once per scorer and direction. This UDF
applies all of them in one pass and returns a struct, so the text
crosses once.

The WORD/LINE features (n_words, mean_word_length, stopword_fraction,
n_lines, dup_line_fraction) are computed here, on text that is already
on this side of the boundary for the model scores: a Python split +
set-membership pass costs ~25 µs/doc, where the JVM's anchored 60-word
stopword regexp cost ~180 µs/doc·core. ``feature_batch``'s docstring is
the one written spec of these features; the oracle
(``oracle/pandas_ref.doc_features``) implements it independently and
tests assert exact equality. n_chars and symbol_ratio stay JVM-side
(``plans/pipeline.transform_pages``: plain length/regexp_replace).

Each score comes from the same pure-python kernel the oracle uses
(``langid.langid_batch``, ``perplexity.perplexity_batch``,
``scrub.scrub_python``) over the same broadcast models; tests assert
parity.
"""

from __future__ import annotations

import re
import string

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import synthlang as sl
from .langid import build_model as build_langid_model
from .langid import langid_batch
from .perplexity import build_model as build_ppl_model
from .perplexity import perplexity_batch
from .scrub import scrub_python

#: Java regex \s — ASCII-only [ \t\n\x0B\f\r]; python's \s would also
#: split on unicode whitespace and diverge from the JVM's \s (symbol_ratio,
#: textfeat._words)
_WS = re.compile(r"[ \t\n\x0B\f\r]+")
#: A-Z → a-z only: str.lower() would also fold e.g. U+212A KELVIN SIGN
#: to 'k', which the spec (feature_batch) does not
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)

SCORING_SCHEMA = T.StructType([
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("mean_word_length", T.DoubleType()),
    T.StructField("stopword_fraction", T.DoubleType()),
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("dup_line_fraction", T.DoubleType()),
    T.StructField("scrubbed_text", T.StringType()),
])


def feature_batch(texts, stopset) -> dict:
    """Word/line features for a batch. This is the spec of the
    product's document features; the oracle and the JVM-side
    n_chars/symbol_ratio in ``transform_pages`` follow it:

      words             = non-empty runs between Java-\\s separators,
                          i.e. split on [ \\t\\n\\x0B\\f\\r]+ (no
                          Unicode whitespace: NBSP, EM SPACE and
                          \\x1c-\\x1f are word characters)
      n_words           = len(words)
      mean_word_length  = sum(len(w)) / n_words        (0.0 if none)
      stopword_fraction = #(fold(w) in stopset) / n_words  (0.0 if none),
                          fold maps ASCII A-Z to a-z only (U+212A
                          KELVIN SIGN stays as it is)
      lines             = '\\n' segments trimmed of ' ' only, kept
                          if non-empty ('\\r' and '\\t' are kept)
      n_lines           = len(lines)
      dup_line_fraction = 1 - n_distinct_lines / n_lines  (0.0 if none)
      n_chars           = len(text) in code points
      symbol_ratio      = #(chars outside [A-Za-z0-9 \\t\\n\\x0B\\f\\r])
                          / n_chars                     (0.0 if none)

    Null text counts as the empty string. Stopword hits are counted on
    the folded text's tokens: folding A-Z never creates or removes a
    separator, so token k of fold(t) is fold(token k of t) and the count
    equals the per-word form above."""
    n_words = []
    mwl = []
    swf = []
    n_lines = []
    dlf = []
    for t in texts:
        if not t:
            n_words.append(0)
            mwl.append(0.0)
            swf.append(0.0)
            n_lines.append(0)
            dlf.append(0.0)
            continue
        ws = [w for w in _WS.split(t) if w]
        nw = len(ws)
        n_words.append(nw)
        if nw:
            mwl.append(sum(map(len, ws)) / nw)
            ns = 0
            low = t.translate(_ASCII_LOWER)
            for w in _WS.split(low):
                if w in stopset:
                    ns += 1
            swf.append(ns / nw)
        else:
            mwl.append(0.0)
            swf.append(0.0)
        lines = [ln for ln in (s.strip(" ") for s in t.split("\n")) if ln]
        nl = len(lines)
        n_lines.append(nl)
        dlf.append(1.0 - len(set(lines)) / nl if nl else 0.0)
    return {
        "n_words": pd.array(n_words, dtype="int32"),
        "mean_word_length": mwl,
        "stopword_fraction": swf,
        "n_lines": pd.array(n_lines, dtype="int32"),
        "dup_line_fraction": dlf,
    }


def make_scoring_udf(spark):
    bc_lid = spark.sparkContext.broadcast(build_langid_model())
    bc_ppl = spark.sparkContext.broadcast(build_ppl_model())
    stopset = frozenset(sl.all_stopwords())

    @F.pandas_udf(SCORING_SCHEMA)
    def scoring_udf(texts: pd.Series) -> pd.DataFrame:
        tl = list(texts)
        # langid + perplexity are both vectorized over the whole Arrow
        # batch (bit-identical to the scalar specs — langid_batch IS the
        # scalar kernel; see perplexity_batch); the feature pass and the
        # compiled-regex scrub are per-document passes
        ppls = perplexity_batch(tl, bc_ppl.value)
        langs, confs = langid_batch(tl, bc_lid.value)
        out = {"lang_pred": langs, "lang_conf": confs, "perplexity": ppls}
        out.update(feature_batch(tl, stopset))
        # most documents carry no PII, so the scrub is the identity:
        # return NULL for them and let the caller coalesce with the
        # original column JVM-side — the unchanged text then never
        # crosses the Python→JVM boundary a second time (guide §4:
        # minimize bytes over the Arrow channel). scrubbed == text
        # → NULL → coalesce restores text: byte-identical output.
        out["scrubbed_text"] = [
            s if s != t else None
            for s, t in zip((scrub_python(t) for t in tl), tl)
        ]
        return pd.DataFrame(out)

    return scoring_udf
