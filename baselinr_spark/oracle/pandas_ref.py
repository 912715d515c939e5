"""Pure-python/pandas reference implementation of the full quality filter.

This is the "reference labels" generator (SURVEY.md §5: slow, obviously
correct, driver-side). ``doc_features`` implements the document-feature
spec written in ``functions/scoring.feature_batch``'s docstring
*independently* (its own regexes and a per-word ASCII fold, nothing
imported from ``scoring``), so the pytest parity and byte-identity
comparisons are a genuine cross-check, mirroring the reference's
hand-computed-expectation test style
(/root/reference/tests/test_drift_strategies.py:33-60).

Model scores (langid, perplexity) reuse the shared deterministic scorer
functions — they *are* the reference models.
"""

from __future__ import annotations

import re

import pandas as pd

from ..config import RULE_NAMES, DEFAULT_CONFIG, FilterConfig
from ..functions import synthlang as sl
from ..functions.langid import score_text
from ..functions.perplexity import perplexity
from ..functions.scrub import scrub_python

#: a word: a run of anything but Java's \s, which is ASCII-only
_WORD = re.compile(r"[^ \t\n\x0B\f\r]+")
#: a symbol: anything but an ASCII letter or digit or Java's \s
_SYM = re.compile(r"[^A-Za-z0-9 \t\n\x0B\f\r]")
_ASCII_UPPER = re.compile(r"[A-Z]")


def _ascii_lower(word: str) -> str:
    return _ASCII_UPPER.sub(lambda m: chr(ord(m.group()) + 32), word)


def doc_features(text: str | None) -> dict:
    text = text or ""
    words = _WORD.findall(text)
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    n_words = len(words)
    n_chars = len(text)
    stop = sl.all_stopwords()
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "mean_word_length": (sum(len(w) for w in words) / n_words) if n_words else 0.0,
        "symbol_ratio": (len(_SYM.findall(text)) / n_chars) if n_chars else 0.0,
        "stopword_fraction": (
            sum(1 for w in words if _ascii_lower(w) in stop) / n_words
            if n_words else 0.0
        ),
        "n_lines": len(lines),
        "dup_line_fraction": (
            1.0 - len(set(lines)) / len(lines) if lines else 0.0
        ),
    }


def doc_verdict(text: str | None, cfg: FilterConfig = DEFAULT_CONFIG) -> dict:
    f = doc_features(text)
    lang_pred, lang_conf = score_text(text)
    ppl = perplexity(text)
    fired = {
        "too_short": f["n_words"] < cfg.min_words,
        "too_long": f["n_words"] > cfg.max_words,
        "mean_word_length": f["n_words"] > 0
        and (
            f["mean_word_length"] < cfg.min_mean_word_length
            or f["mean_word_length"] > cfg.max_mean_word_length
        ),
        "symbol_ratio": f["symbol_ratio"] > cfg.max_symbol_ratio,
        "stopword_fraction": f["n_words"] > 0
        and f["stopword_fraction"] < cfg.min_stopword_fraction,
        "dup_lines": f["dup_line_fraction"] > cfg.max_dup_line_fraction,
        "langid": lang_pred not in cfg.allowed_langs or lang_conf < cfg.min_lang_confidence,
        "perplexity": ppl > cfg.max_perplexity,
    }
    reasons = [n for n in RULE_NAMES if fired.get(n)]
    return {
        **f,
        "lang_pred": lang_pred,
        "lang_conf": lang_conf,
        "perplexity": ppl,
        "drop_reasons": reasons,
        "keep": not reasons,
        "scrubbed_text": scrub_python(text),
    }


def reference_labels(pages: pd.DataFrame, cfg: FilterConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """pages (url, text, ...) → expected_* columns keyed by url."""
    recs = []
    for url, text in zip(pages["url"], pages["text"]):
        v = doc_verdict(text, cfg)
        recs.append(
            {
                "url": url,
                "expected_keep": v["keep"],
                "expected_drop_reasons": v["drop_reasons"],
                "expected_scrubbed_text": v["scrubbed_text"],
                "expected_lang": v["lang_pred"],
                "expected_perplexity": v["perplexity"],
            }
        )
    return pd.DataFrame(recs)
