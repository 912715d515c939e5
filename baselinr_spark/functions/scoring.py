"""Fused model-scoring pandas UDF: langid + perplexity + word/line
features + PII/toxicity scrub in ONE Arrow round trip.

The scorers are independent per-document functions over the same input,
so running them as separate UDFs would ship the full ``text`` column
across the JVM↔Python boundary once per scorer and direction. This UDF
applies all of them in one pass and returns a struct, so the text
crosses once.

The WORD/LINE features (n_words, mean_word_length, stopword_fraction,
n_lines, dup_line_fraction) moved here in round 6: their JVM forms —
even as codegen regexps — cost ~180 µs/doc·core for the anchored
60-word stopword alternation alone (Java regex tries the pattern at
every char position), while a Python split + set-membership pass over
text that is ALREADY on this side of the boundary costs ~25 µs/doc.
``feature_batch`` replicates the exact textfeat/with_features
semantics (Java-\\s tokenization, ASCII-only case folding, space-only
trim for lines, same division order); parity with
`textfeat.with_features` is asserted by tests over the corpus and
whitespace/unicode edges. n_chars and symbol_ratio stay JVM-side (plain
length/regexp_replace — cheap, and symbol counting is faster there).

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
#: split on unicode whitespace and diverge from the JVM tokenization
_WS = re.compile(r"[ \t\n\x0B\f\r]+")
#: A-Z → a-z only: Java (?i) without UNICODE_CASE folds ASCII letters
#: only, so e.g. U+212A KELVIN SIGN must not fold to 'k' here either
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

FEATURE_FIELDS = (
    "n_words", "mean_word_length", "stopword_fraction",
    "n_lines", "dup_line_fraction",
)


def feature_batch(texts, stopset) -> dict:
    """Word/line features for a batch, value-identical to the JVM
    expressions in textfeat.with_features:

      words             = non-empty [Java-\\s]+-split substrings
      mean_word_length  = sum(len(w)) / n_words        (0.0 if none)
      stopword_fraction = #(ascii_lower(w) in stopset) / n_words
      lines             = space-trimmed non-empty '\\n' segments
      dup_line_fraction = 1 - n_distinct/n_lines       (0.0 if none)

    Stopword hits are counted on the folded text's tokens: folding
    A-Z never creates or removes a [Java-\\s] separator, so token k of
    fold(t) is fold(token k of t) and the count equals the per-word
    fold(w)∈set form. Only A-Z are folded, like the JVM's (?i).
    Null/empty text → zeros, matching the JVM coalesce('') path."""
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
