"""PII / toxicity scrub pass and the PII-detection helpers.

Patterns seed from the reference's built-in format validators
(/root/reference/baselinr/validation/validators/format_validator.py:125-129
— email/url/phone regexes) extended per the north rule with IPv4 and a
toxicity lexicon. The patterns are ASCII-only and avoid constructs where
Java regex, RE2 (DuckDB) and Python `re` could diverge, so the JVM
helpers below (pseudonymization, PII co-occurrence) and their DuckDB
oracles match the same spans.

The pipeline scrub is `scrub_python`, the same function the pure-python
oracle (oracle/pandas_ref.py) calls. It runs inside the fused scoring
UDF (functions/scoring.py).

Replacement order is fixed: email → phone → ipv4 → toxicity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sources.pages import TOX_LEXICON

#: (name, pattern, replacement) — applied in order
SCRUB_PATTERNS: tuple[tuple[str, str, str], ...] = (
    # email: reference format_validator.py:125 shape, unanchored
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # phone: fixed international format planted by the generator
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}-[0-9]{4}", "<PHONE>"),
    # ipv4
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # toxicity lexicon, case-insensitive whole words
    ("tox", r"(?i)\b(?:" + "|".join(TOX_LEXICON) + r")\b", "<TOX>"),
)

_COMPILED = [(re.compile(p), r) for _, p, r in SCRUB_PATTERNS]

(_EMAIL_C, _EMAIL_R), (_PHONE_C, _PHONE_R), (_IPV4_C, _IPV4_R), (
    _TOX_C, _TOX_R,
) = _COMPILED
_HAS_DIGIT = re.compile("[0-9]")
#: lowercase lexicon for the cheap containment precheck. Sound necessary
#: condition for a (?i) regex hit: any span the case-insensitive pattern
#: matches lowercases to the lexicon word itself (the lexicon is ASCII
#: a-z and contains none of the letters with multi-char or non-reflexive
#: Unicode lower mappings such as i/s), so str.lower() containment can
#: never miss a doc the regex would touch.
_TOX_LOWER = tuple(w.lower() for w in TOX_LEXICON)


def scrub_python(text: str | None) -> str | None:
    """Pure-python scrub — the oracle implementation.

    Each sub() is gated by a cheap necessary-condition scan ('@' for
    email, '+' for phone, any digit for ipv4, lowercase lexicon
    containment for tox): most documents carry no PII, and a C-speed
    containment check is ~100x cheaper than the full regex sub() pass it
    skips. When the gate fires the sub() runs unchanged, and when it does
    not fire the sub() would have been the identity — byte-identical
    output either way (asserted by tests)."""
    if text is None:
        return None
    if "@" in text:
        text = _EMAIL_C.sub(_EMAIL_R, text)
    if "+" in text:
        text = _PHONE_C.sub(_PHONE_R, text)
    if _HAS_DIGIT.search(text) is not None:
        text = _IPV4_C.sub(_IPV4_R, text)
    low = text.lower()
    if any(w in low for w in _TOX_LOWER):
        text = _TOX_C.sub(_TOX_R, text)
    return text


#: candidate payment-card runs: 13-19 digits allowing single space/dash
#: separators (the PCI-DSS detection shape); validation is Luhn.
CC_CANDIDATE_RE = r"[0-9][0-9 -]{11,22}[0-9]"


def luhn_valid_expr(digits: Column) -> Column:
    """Luhn checksum (ISO/IEC 7812 — public) over a digit-only string
    column, as pure higher-order expressions: from the RIGHT, double
    every second digit, subtract 9 when the double exceeds 9, and the
    total must be ≡ 0 (mod 10). No UDF — `split('')` + transform +
    aggregate stay inside codegen; the identical lambda replays in
    DuckDB (string_split + list_transform with index)."""
    chars = F.split(digits, "")
    n = F.size(chars)
    contrib = F.transform(
        chars,
        lambda c, i: F.when(
            (n - i) % 2 == 0,
            F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9).otherwise(
                c.cast("int") * 2
            ),
        ).otherwise(c.cast("int")),
    )
    total = F.aggregate(contrib, F.lit(0), lambda acc, x: acc + x)
    return (n > 0) & (total % 10 == 0)


def cc_scan_exprs(text: Column) -> tuple[Column, Column]:
    """(n_candidates, n_luhn_valid) for payment-card detection over a
    text column. A candidate is a CC_CANDIDATE_RE match whose digit
    count (separators stripped) is 13-19; valid = Luhn passes. Both are
    row-local expressions — at corpus scale this adds zero shuffle to
    whatever pass computes it (the fused scoring stage or a standalone
    select)."""
    runs = F.regexp_extract_all(text, F.lit(CC_CANDIDATE_RE), 0)
    digit_runs = F.filter(
        F.transform(runs, lambda r: F.regexp_replace(r, "[^0-9]", "")),
        lambda d: (F.length(d) >= 13) & (F.length(d) <= 19),
    )
    n_cand = F.size(digit_runs)
    n_valid = F.size(F.filter(digit_runs, luhn_valid_expr))
    return n_cand.cast("long"), n_valid.cast("long")


#: ISO 13616 IBAN shape: country code + 2 check digits + 10-30 BBAN chars.
#: Uppercase-only by design (real IBANs are upper; lowercase candidates
#: are overwhelmingly prose).
IBAN_CANDIDATE_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\b"


def iban_mod97_expr(cand: Column) -> Column:
    """ISO 7064 mod-97-10 remainder of an IBAN candidate (ISO 13616 —
    public): move the first 4 chars to the end, map A→10 … Z→35, and
    take the big-integer remainder mod 97. The number has up to 68
    digits, far past int64, so the remainder is folded incrementally —
    acc = (acc·10^len(v) + v) mod 97 per character — with `split('')`
    + `aggregate`, all inside codegen like `luhn_valid_expr`. The same
    fold replays exactly in DuckDB via list_reduce."""
    rearranged = F.concat(F.substring(cand, 5, 34), F.substring(cand, 1, 4))
    chars = F.split(rearranged, "")
    return F.aggregate(
        chars,
        F.lit(0),
        lambda acc, c: F.when(
            c.rlike("[A-Z]"), (acc * 100 + (F.ascii(c) - 55)) % 97
        ).otherwise((acc * 10 + c.cast("int")) % 97),
    )


def iban_valid_expr(cand: Column) -> Column:
    """True iff the candidate passes the IBAN check (mod-97 ≡ 1)."""
    return iban_mod97_expr(cand) == 1


def iban_scan_exprs(text: Column) -> tuple[Column, Column]:
    """(n_candidates, n_iban_valid) for bank-account PII detection over
    a text column — the IBAN twin of `cc_scan_exprs`. Row-local
    expressions: zero shuffle at corpus scale; rides whatever pass
    computes it (fused scoring stage or a standalone select)."""
    runs = F.regexp_extract_all(text, F.lit(IBAN_CANDIDATE_RE), 0)
    n_cand = F.size(runs)
    n_valid = F.size(F.filter(runs, iban_valid_expr))
    return n_cand.cast("long"), n_valid.cast("long")


def pseudonymize_expr(
    col: Column,
    pattern: str = SCRUB_PATTERNS[0][1],
    label: str = "EMAIL",
) -> Column:
    """Consistent pseudonymization: replace every match of ``pattern``
    with a STABLE per-value token ``<LABEL:xxxxxxxx>`` (first 8 hex of
    the match's md5) instead of the information-destroying flat
    ``<EMAIL>`` of `scrub_python` — the linkage-preserving variant that
    keeps "same author across documents" signals usable for dedup and
    spam-campaign detection while removing the raw identifier
    (standard tokenization/pseudonymization practice, e.g. HIPAA-style
    de-identification; key-less md5 here — swap in an HMAC for real
    deployments, same plan shape).

    Pure row-local codegen: split on the pattern (Java split keeps
    the n+1 segments), regexp_extract_all gives the n matches, each
    hashed and re-interleaved with zip_with + array_join. No UDF, no
    shuffle; DuckDB replays byte-identically (ASCII-only pattern, the
    same cross-engine-safe subset as SCRUB_PATTERNS).
    """
    parts = F.split(col, pattern, -1)
    matches = F.regexp_extract_all(col, F.lit(pattern), 0)
    tokens = F.concat(
        F.transform(
            matches,
            lambda m: F.concat(
                F.lit(f"<{label}:"), F.substring(F.md5(m), 1, 8), F.lit(">")
            ),
        ),
        F.array(F.lit("")),
    )
    merged = F.zip_with(parts, tokens, lambda p, t: F.concat(p, t))
    return F.when(col.isNotNull(), F.array_join(merged, ""))


def pseudonymize_count_expr(col: Column, pattern: str = SCRUB_PATTERNS[0][1]) -> Column:
    """Number of pseudonymized matches (row-local)."""
    return F.when(
        col.isNotNull(), F.size(F.regexp_extract_all(col, F.lit(pattern), 0))
    ).otherwise(F.lit(None).cast("int"))


def oracle_pseudonymize_sql(
    text_expr: str,
    pattern: str = SCRUB_PATTERNS[0][1],
    label: str = "EMAIL",
) -> str:
    """DuckDB scalar expression twin of :func:`pseudonymize_expr` over
    ``text_expr`` (embed in a SELECT)."""
    esc = pattern.replace("'", "''")
    return (
        f"CASE WHEN {text_expr} IS NOT NULL THEN array_to_string("
        f"list_transform(string_split_regex({text_expr}, '{esc}'), "
        f"(p, i) -> p || coalesce(list_transform("
        f"regexp_extract_all({text_expr}, '{esc}'), "
        f"m -> '<{label}:' || substring(md5(m), 1, 8) || '>')[i], '')"
        f"), '') END"
    )


def pii_cooccurrence(df, text_col: str):
    """Re-identification risk tiers: group documents by WHICH PII
    types co-occur in them (email+phone in one page identifies a
    person far more than either alone — the combination, not the
    count, sets the risk tier and the right scrub/quarantine policy).

    Detection reuses the exact SCRUB_PATTERNS regexes (email, phone,
    ipv4 — the tox lexicon is toxicity, not PII, and is excluded).
    Returns (pii_types, n_docs, doc_share): pii_types is the
    '+'-joined sorted-by-pattern-order combination ('none' when
    clean); doc_share sums to 1.

    Scale design: detection is row-local regexp_like inside codegen
    (no UDF); ONE groupBy over ≤2³ combination keys; the total for
    doc_share rides a broadcast 1-row aggregate.
    """
    from pyspark.sql import DataFrame  # noqa: F401 (signature doc)

    flags = [
        (name, F.col(text_col).rlike(pat))
        for name, pat, _ in SCRUB_PATTERNS
        if name != "tox"
    ]
    combo = F.concat_ws(
        "+", *[F.when(flag, F.lit(name)) for name, flag in flags]
    )
    combo = F.when(combo == "", F.lit("none")).otherwise(combo)
    counts = (
        df.select(combo.alias("pii_types"))
        .groupBy("pii_types")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    total = df.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "pii_types",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("__t")).alias("doc_share"),
    )


def oracle_pii_cooccurrence_sql(rows_sql: str, text_col: str) -> str:
    """DuckDB twin of :func:`pii_cooccurrence` (same regexes; RE2 and
    Java agree on these ASCII-only patterns — see module docstring)."""
    cases = ", ".join(
        f"CASE WHEN regexp_matches({text_col}, '{pat}') THEN '{name}' END"
        for name, pat, _ in SCRUB_PATTERNS
        if name != "tox"
    )
    return f"""
WITH rows_in AS ({rows_sql}),
c AS (
  SELECT coalesce(nullif(concat_ws('+', {cases}), ''), 'none') AS pii_types
  FROM rows_in
),
t AS (SELECT count(*)::double AS tot FROM rows_in)
SELECT pii_types, count(*)::bigint AS n_docs,
       count(*)::double / tot AS doc_share
FROM c, t GROUP BY pii_types, tot"""
