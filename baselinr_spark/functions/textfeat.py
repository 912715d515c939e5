"""Document features and rule predicates as native Catalyst expressions.

The default filter's word/line features (n_words, mean_word_length,
stopword_fraction, n_lines, dup_line_fraction) are computed in the fused
scoring UDF; their one spec is ``functions/scoring.feature_batch``'s
docstring, and ``oracle/pandas_ref.doc_features`` implements it
independently. This module holds what stays JVM-side: the rule
fail-predicates and verdict over those columns, and the opt-in Gopher
repetition, C4 line-shape and Luhn card families, each a zero-shuffle,
zero-Python projection.

The rules recast baselinr's validator predicates (SURVEY.md §2.10; e.g.
/root/reference/baselinr/validation/validators/range_validator.py:375's
`col IS NOT NULL AND (col < min OR col > max)` shape) as Gopher/C4
document heuristics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FilterConfig


def _words(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)


def _lines(text: Column) -> Column:
    return F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )


def rule_columns(cfg: FilterConfig) -> dict[str, Column]:
    """Boolean fail-predicates over feature columns. Rule name → Column.

    langid/perplexity rules are appended by plans/pipeline.py once the
    model-score columns exist; this dict covers the pure-heuristic rules.
    """
    return {
        "too_short": F.col("n_words") < cfg.min_words,
        "too_long": F.col("n_words") > cfg.max_words,
        "mean_word_length": (F.col("n_words") > 0)
        & (
            (F.col("mean_word_length") < cfg.min_mean_word_length)
            | (F.col("mean_word_length") > cfg.max_mean_word_length)
        ),
        "symbol_ratio": F.col("symbol_ratio") > cfg.max_symbol_ratio,
        "stopword_fraction": (F.col("n_words") > 0)
        & (F.col("stopword_fraction") < cfg.min_stopword_fraction),
        "dup_lines": F.col("dup_line_fraction") > cfg.max_dup_line_fraction,
    }


def model_rule_columns(cfg: FilterConfig) -> dict[str, Column]:
    """Fail-predicates over model-score columns (lang_pred, lang_conf,
    perplexity) added by the langid/perplexity UDF stages."""
    return {
        "langid": (~F.col("lang_pred").isin(*cfg.allowed_langs))
        | (F.col("lang_conf") < cfg.min_lang_confidence),
        "perplexity": F.col("perplexity") > cfg.max_perplexity,
    }


def with_verdict(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Add per-rule boolean columns `rule_<name>`, `drop_reasons`
    (array<string> in RULE_NAMES order) and `keep`, as one projection."""
    from ..config import RULE_NAMES

    fired = {n: F.coalesce(col, F.lit(False)) for n, col in rules.items()}
    reasons = F.array_compact(F.array(*[
        F.when(fired[n], F.lit(n)).otherwise(F.lit(None))
        for n in RULE_NAMES if n in rules
    ]))
    return df.withColumns({
        **{f"rule_{n}": col for n, col in fired.items()},
        "drop_reasons": reasons,
        "keep": F.size(reasons) == 0,
    })


# ---------------------------------------------------------------------------
# Gopher repetition features (Rae et al. 2021, table A1): fraction of
# characters in the most common word n-gram (n=2..4) and in all word
# n-grams occurring more than once (n=5..10). The reference's validator
# bank has no repetition family; these extend §2.10 with the standard
# web-text rules. Char accounting is defined over the n-gram strings
# themselves: fraction = counted-occurrence chars / total n-gram chars
# for that n (0.0 when the doc has < n words).
#
# Shape: zero shuffles and zero Python. Each n builds its gram array with
# slice/array_join, sorts it, and folds ONE F.aggregate pass with a
# struct accumulator over the sorted runs (run length = occurrence
# count). The alternative explode → groupBy(doc, gram) formulation is a
# full shuffle of every n-gram in the corpus — at 10^12 documents that
# is the single most expensive shuffle in the job, while this stays
# row-local inside WholeStageCodegen.
# ---------------------------------------------------------------------------


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams; empty when len(words) < n."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _rep_stats(grams: Column) -> Column:
    """struct(dup_chars, top_chars, tot_chars) from one sorted fold."""
    s = F.array_sort(grams)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("dupc"),
        F.lit(0).cast("long").alias("bestc"),
        F.lit(0).cast("long").alias("bestl"),
    )

    def merge(acc, g):
        same = acc["prev"] == g
        run_closed_dup = (~same) & (acc["run"] >= 2)
        run_closed_best = (~same) & (acc["run"] > acc["bestc"])
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(run_closed_dup,
                   acc["dupc"] + acc["run"] * F.length(acc["prev"]))
            .otherwise(acc["dupc"]).alias("dupc"),
            F.when(run_closed_best, acc["run"]).otherwise(acc["bestc"]).alias("bestc"),
            F.when(run_closed_best, F.length(acc["prev"]).cast("long"))
            .otherwise(acc["bestl"]).alias("bestl"),
        )

    def finish(acc):
        # close the final run; ties keep the earlier (lexicographically
        # smaller) gram because only a STRICTLY longer run replaces best
        dupc = F.when(acc["run"] >= 2,
                      acc["dupc"] + acc["run"] * F.length(acc["prev"])
                      ).otherwise(acc["dupc"])
        bestc = F.when(acc["run"] > acc["bestc"], acc["run"]).otherwise(acc["bestc"])
        bestl = F.when(acc["run"] > acc["bestc"],
                       F.length(acc["prev"]).cast("long")).otherwise(acc["bestl"])
        return F.struct(
            dupc.alias("dup_chars"),
            (bestc * bestl).alias("top_chars"),
        )

    folded = F.aggregate(s, init, merge, finish)
    tot = F.aggregate(
        grams, F.lit(0).cast("long"), lambda acc, g: acc + F.length(g)
    )
    return F.struct(
        folded["dup_chars"].alias("dup_chars"),
        folded["top_chars"].alias("top_chars"),
        tot.alias("tot_chars"),
    )


def with_repetition_features(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Append top_{n}gram_char_fraction / dup_{n}gram_char_fraction.

    The word array, each gram array, and each fold result are staged as
    their own aliased columns (dropped at the end). This matters: the
    HOF folds are CodegenFallback, so the projection is interpreted, and
    inlining `words` into every family would re-split the text dozens of
    times per row. CollapseProject keeps a non-cheap alias referenced
    more than once as a separate Project, so each stage is evaluated
    once per row (measured ~16× on 5k docs vs the inlined form)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    ns = sorted(set(top_ns) | set(dup_ns))
    out = df.withColumn("_rep_words", _words(text))
    for n in ns:
        out = out.withColumn(
            f"_rep_g{n}", word_ngrams(F.col("_rep_words"), n)
        )
    for n in ns:
        out = out.withColumn(f"_rep_st{n}", _rep_stats(F.col(f"_rep_g{n}")))
    for n in ns:
        st = F.col(f"_rep_st{n}")
        if n in top_ns:
            out = out.withColumn(
                f"top_{n}gram_char_fraction",
                F.when(st["tot_chars"] > 0,
                       st["top_chars"] / st["tot_chars"]).otherwise(F.lit(0.0)),
            )
        if n in dup_ns:
            out = out.withColumn(
                f"dup_{n}gram_char_fraction",
                F.when(st["tot_chars"] > 0,
                       st["dup_chars"] / st["tot_chars"]).otherwise(F.lit(0.0)),
            )
    return out.drop("_rep_words",
                    *[f"_rep_g{n}" for n in ns],
                    *[f"_rep_st{n}" for n in ns])


# ---------------------------------------------------------------------------
# C4 line-level rules (Raffel et al. 2020 §2.2) + Gopher bullet/ellipsis
# line fractions + alphabetic-word fraction — all native expressions.
# ---------------------------------------------------------------------------

LINE_FEATURE_COLS = (
    "bullet_line_fraction",
    "ellipsis_line_fraction",
    "terminal_punct_line_fraction",
    "alpha_word_fraction",
    "has_lorem_ipsum",
    "has_curly_brace",
)


def with_line_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append LINE_FEATURE_COLS (fractions are 0.0 for empty docs).
    Word/line arrays are staged as aliased columns for the same
    interpreted-HOF reason as with_repetition_features."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    df = (df.withColumn("_lf_words", _words(text))
            .withColumn("_lf_lines", _lines(text)))
    words = F.col("_lf_words")
    lines = F.col("_lf_lines")
    n_lines = F.size(lines)
    n_words = F.size(words)

    def frac(pred_count):
        return F.when(n_lines > 0, pred_count / n_lines).otherwise(F.lit(0.0))

    # bullet-char + space, so '-5 degrees' / '*emphasis*' don't count as
    # bullet points (the prefix the Gopher rule intends)
    bullet = F.size(F.filter(
        lines, lambda ln: ln.startswith("- ") | ln.startswith("* ")
        | ln.startswith("• ")
    ))
    ellipsis = F.size(F.filter(
        lines, lambda ln: ln.endswith("...") | ln.endswith("…")
    ))
    terminal = F.size(F.filter(
        lines, lambda ln: ln.endswith(".") | ln.endswith("!")
        | ln.endswith("?") | ln.endswith("\"")
    ))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    return (
        df.withColumn("bullet_line_fraction", frac(bullet))
        .withColumn("ellipsis_line_fraction", frac(ellipsis))
        .withColumn("terminal_punct_line_fraction", frac(terminal))
        .withColumn(
            "alpha_word_fraction",
            F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0)),
        )
        .withColumn("has_lorem_ipsum", F.lower(text).contains("lorem ipsum"))
        .withColumn("has_curly_brace", text.contains("{"))
        .drop("_lf_words", "_lf_lines")
    )


def repetition_rule_columns(cfg: FilterConfig) -> dict[str, Column]:
    """Gopher repetition fail-predicates (opt-in via
    cfg.repetition_rules; thresholds are the Gopher table A1 values)."""
    rules: dict[str, Column] = {}
    for n, thr in cfg.max_top_ngram_char_fraction.items():
        rules[f"top_{n}gram"] = F.col(f"top_{n}gram_char_fraction") > thr
    for n, thr in cfg.max_dup_ngram_char_fraction.items():
        rules[f"dup_{n}gram"] = F.col(f"dup_{n}gram_char_fraction") > thr
    return rules


def line_rule_columns(cfg: FilterConfig) -> dict[str, Column]:
    """C4/Gopher line-shape fail-predicates (opt-in via cfg.line_rules)."""
    return {
        "bullet_lines": F.col("bullet_line_fraction")
        > cfg.max_bullet_line_fraction,
        "ellipsis_lines": F.col("ellipsis_line_fraction")
        > cfg.max_ellipsis_line_fraction,
        "alpha_words": F.col("alpha_word_fraction")
        < cfg.min_alpha_word_fraction,
        "lorem_ipsum": F.col("has_lorem_ipsum"),
        "curly_brace": F.col("has_curly_brace"),
    }


def with_cc_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append Luhn payment-card detection counts (n_cc_candidates,
    n_luhn_valid) — row-local codegen expressions from
    functions/scrub.py:cc_scan_exprs, zero shuffle."""
    from .scrub import cc_scan_exprs

    n_cand, n_valid = cc_scan_exprs(F.col(text_col))
    return df.withColumn("n_cc_candidates", n_cand).withColumn(
        "n_luhn_valid", n_valid
    )


def cc_rule_columns(cfg: FilterConfig) -> dict[str, Column]:
    """Luhn card fail-predicate (opt-in via cfg.cc_rule)."""
    return {
        "cc_numbers": F.col("n_luhn_valid") > F.lit(int(cfg.max_cc_numbers))
    }
