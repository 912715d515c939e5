"""Unicode/typography text normalization as native Catalyst expressions.

Every serious web-text pipeline runs a normalization pass between
extraction and tokenization: fancy typography (curly quotes, long
dashes, ellipsis), zero-width characters, stray C0 control bytes, and
run-away whitespace all inflate the vocabulary, break exact dedup
(visually identical lines hash apart), and skew the punctuation-ratio
quality rules. The reference has no text surface — this recasts the
spirit of its format validators (reference
baselinr/validation/validators/format_validator.py: canonicalize, then
judge) for document text.

Chain (applied in order — each step's contract depends on the prior):

  1. zero-width strip: ZWSP/ZWNJ/ZWJ/BOM removed outright,
  2. typography fold: curly single/double quotes -> ASCII ' / ",
     en/em/horizontal-bar dashes -> '-', NBSP/narrow-NBSP -> space
     (one translate), ellipsis -> '...' (literal replace),
  3. line-break canonicalization: \\r\\n and bare \\r -> \\n FIRST, so
     the control strip never eats a line break,
  4. control strip: C0 controls except \\t and \\n, plus DEL,
  5. horizontal-whitespace collapse: runs of spaces/tabs -> one space,
     then line-trailing AND line-leading space dropped (C4 strips each
     line the same way; indentation is not meaningful in web text),
  6. blank-line collapse: 3+ consecutive newlines -> 2 (paragraph
     break survives, vertical padding does not), then outer trim.

Idempotent by construction (normalize(normalize(x)) = normalize(x) —
property-tested) and engine-replayable: every step is a
translate/replace/regexp_replace in RE2-compatible syntax, so the
DuckDB oracle replays the chain verbatim. Row-local, zero shuffle, no
UDF — at 100 TB this fuses into the same WholeStageCodegen scan stage
as extraction (functions/extract.py) and the heuristic rules.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# step 1: zero-width + BOM
ZERO_WIDTH_RE = "[​‌‍﻿]"

# step 2: 1:1 char folds (one translate call)
_FOLD = {
    "‘": "'",   # left single quote
    "’": "'",   # right single quote
    "“": '"',   # left double quote
    "”": '"',   # right double quote
    "–": "-",   # en dash
    "—": "-",   # em dash
    "―": "-",   # horizontal bar
    " ": " ",   # no-break space
    " ": " ",   # narrow no-break space
}
TRANSLATE_FROM = "".join(_FOLD)
TRANSLATE_TO = "".join(_FOLD.values())

ELLIPSIS = "…"

# C0 controls minus \t (0x09) and \n (0x0a), plus DEL — built with
# chr() so no raw control byte lives in this source file. NUL is kept
# out of the class and stripped with its own replace: a literal NUL
# inside a pattern literal does not survive every SQL driver.
C0_CONTROL_CLASS = (
    "["
    + "".join(chr(c) for c in (*range(0x01, 0x09), *range(0x0B, 0x20), 0x7F))
    + "]"
)

# steps 3-6 as (RE2-compatible pattern, replacement) — applied in order.
# Patterns/replacements hold REAL control characters (Python-decoded);
# the SQL twin re-escapes them into DuckDB e'..' literals.
REGEX_STEPS: tuple[tuple[str, str], ...] = (
    ("\r\n", "\n"),
    ("\r", "\n"),
    (C0_CONTROL_CLASS, ""),
    ("\x00", ""),
    ("[ \t]+", " "),
    (" \n", "\n"),
    ("\n ", "\n"),
    ("\n{3,}", "\n\n"),
)


def normalize_text_expr(text: Column) -> Column:
    """Normalized text (NULL -> NULL). See module docstring for the
    exact chain; `oracle_normalize_expr_sql` is the DuckDB twin."""
    s = F.regexp_replace(text, ZERO_WIDTH_RE, "")
    s = F.translate(s, TRANSLATE_FROM, TRANSLATE_TO)
    s = F.replace(s, F.lit(ELLIPSIS), F.lit("..."))
    for pat, rep in REGEX_STEPS:
        s = F.regexp_replace(s, pat, rep)
    return F.trim(s)


def _sql_str(text: str) -> str:
    """DuckDB e'..' escaped-string literal for ``text``: quotes doubled,
    backslashes doubled, control chars hex-escaped (so the emitted SQL
    is printable and driver-safe)."""
    out = []
    for ch in text:
        if ch == "'":
            out.append("''")
        elif ch == "\\":
            out.append("\\\\")
        elif ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append(f"\\x{ord(ch):02x}")
        else:
            out.append(ch)
    return "e'" + "".join(out) + "'"


def oracle_normalize_expr_sql(col: str) -> str:
    """DuckDB expression replaying normalize_text_expr over ``col``
    verbatim: same regexes (RE2-safe), same order."""
    s = f"regexp_replace({col}, {_sql_str(ZERO_WIDTH_RE)}, '', 'g')"
    s = (f"translate({s}, {_sql_str(TRANSLATE_FROM)}, "
         f"{_sql_str(TRANSLATE_TO)})")
    s = f"replace({s}, {_sql_str(ELLIPSIS)}, '...')"
    for pat, rep in REGEX_STEPS:
        if pat == "\x00":
            # DuckDB strings cannot carry NUL at all (the e'\x00'
            # literal is a parse error), so the NUL-strip step is
            # vacuously true on the DuckDB side — skip it.
            continue
        s = (f"regexp_replace({s}, {_sql_str(pat)}, "
             f"{_sql_str(rep)}, 'g')")
    return f"trim({s})"
