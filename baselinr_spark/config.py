"""Filter thresholds and pipeline configuration.

The rule set recasts baselinr's row-level validators
(/root/reference/baselinr/validation/validators/*.py, §2.10 of SURVEY.md)
as Gopher/C4-style document-quality heuristics: each rule is a boolean
fail-predicate over per-document features; keep = no rule fired;
per-partition failure_rate = avg(rule fired) * 100, matching the
reference's failed_rows/total_rows*100 semantics
(/root/reference/baselinr/validation/validators/null_validator.py:81).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class FilterConfig:
    # Gopher-ish document heuristics
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_length: float = 3.0
    max_mean_word_length: float = 10.0
    max_symbol_ratio: float = 0.10        # non-alnum-non-space chars / chars
    min_stopword_fraction: float = 0.06   # stopword hits / words
    max_dup_line_fraction: float = 0.30   # 1 - distinct_lines/lines
    # Gopher repetition rules (Rae et al. 2021 table A1) — opt-in so the
    # default keep/drop contract (reference-label F1) is unchanged
    repetition_rules: bool = False
    max_top_ngram_char_fraction: dict = field(
        default_factory=lambda: {2: 0.20, 3: 0.18, 4: 0.16}
    )
    max_dup_ngram_char_fraction: dict = field(
        default_factory=lambda: {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                                 9: 0.11, 10: 0.10}
    )
    # C4/Gopher line-shape rules — opt-in, same reason
    line_rules: bool = False
    max_bullet_line_fraction: float = 0.90
    max_ellipsis_line_fraction: float = 0.30
    min_alpha_word_fraction: float = 0.80
    # Luhn payment-card rule — opt-in, same reason (functions/scrub.py:
    # cc_scan_exprs; fail when the doc carries more than max_cc_numbers
    # Luhn-valid 13-19-digit runs)
    cc_rule: bool = False
    max_cc_numbers: int = 0
    # model-based rules
    min_lang_confidence: float = 0.65
    allowed_langs: tuple[str, ...] = ("aa", "bb", "cc")
    max_perplexity: float = 3000.0


#: rule name -> stable ordering for drop_reasons arrays
RULE_NAMES: tuple[str, ...] = (
    "too_short",
    "too_long",
    "mean_word_length",
    "symbol_ratio",
    "stopword_fraction",
    "dup_lines",
    # Gopher repetition family (active only when repetition_rules=True)
    "top_2gram",
    "top_3gram",
    "top_4gram",
    "dup_5gram",
    "dup_6gram",
    "dup_7gram",
    "dup_8gram",
    "dup_9gram",
    "dup_10gram",
    # C4/Gopher line-shape family (active only when line_rules=True)
    "bullet_lines",
    "ellipsis_lines",
    "alpha_words",
    "lorem_ipsum",
    "curly_brace",
    # Luhn card family (active only when cc_rule=True)
    "cc_numbers",
    "langid",
    "perplexity",
)

DEFAULT_CONFIG = FilterConfig()
