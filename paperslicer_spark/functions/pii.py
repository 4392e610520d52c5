"""PII redaction (training-data hygiene surface): scrub emails, phone
numbers, IPv4 addresses, and long digit runs (card/account-shaped)
from a text column, with per-document redaction counts for audit.

Pure JVM ``regexp_replace``/``regexp_count`` chain — every pattern is
RE2-compatible (no backreferences, no lookbehind) so the x41 oracle
runs the IDENTICAL chain in DuckDB. This is the cheap regex tier every
web-scale pipeline runs over 10^12 rows; model-based NER redaction
would slot behind the same column signature as a Pandas-UDF tier.

Order matters and is part of the contract: emails are scrubbed before
phones/digit runs so an address like ``a.12345678901@b.com`` redacts
as ONE email, not an email plus a digit run; IPv4 before generic digit
runs for the same reason. Replacement tokens are bracketed uppercase
(``[EMAIL]`` etc.) — greppable downstream and invisible to whitespace
tokenization changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# RE2-safe patterns (shared verbatim with the DuckDB oracle via
# PII_PATTERNS — never inline-edit one side)
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "[EMAIL]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    ("phone",
     r"(?:\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b",
     "[PHONE]"),
    ("digits", r"\b[0-9]{9,}\b", "[NUMBER]"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII scrub: ``(id, clean_text, n_email, n_ipv4,
    n_phone, n_digits, n_redacted)``.

    Counts come from ``regexp_count`` on the text as it stands when
    that pattern runs (post earlier scrubs), which is exactly the
    number of replacements the following ``regexp_replace`` performs.
    Zero shuffles — a pure codegen map over the base scan; at 100 TB
    this runs at parquet-scan speed and composes with any downstream
    operator (the scrub happens before text ever leaves the executor).
    """
    cur = F.col(text_col)
    counts = []
    for kind, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("bigint")
                      .alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, rep)
    out = df.select(F.col(id_col), cur.alias("clean_text"), *counts)
    total = None
    for kind, _, _ in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return out.withColumn("n_redacted", total)


# ---------------------------------------------------------------------------
# Unicode hygiene (ftfy-lite): the cheap normalization tier every text
# pipeline runs before tokenization. RE2-safe patterns + literal
# digraph fixes shared verbatim with the DuckDB oracle generator.
# All constants are spelled with \\u escapes so the source stays ASCII.
# ---------------------------------------------------------------------------

# common UTF-8-decoded-as-Latin-1 mojibake sequences (literal
# replaces, most specific first)
MOJIBAKE_FIXES: list[tuple[str, str]] = [
    ("\u00c3\u00a9", "\u00e9"),            # A-tilde + (c) -> e-acute
    ("\u00c3\u00a8", "\u00e8"),            # -> e-grave
    ("\u00c3\u00a4", "\u00e4"),            # -> a-umlaut
    ("\u00c3\u00b6", "\u00f6"),            # -> o-umlaut
    ("\u00c3\u00bc", "\u00fc"),            # -> u-umlaut
    ("\u00e2\u0080\u0099", "'"),           # curly apostrophe mojibake
    ("\u00e2\u0080\u0093", "-"),           # en-dash mojibake
]

# dropped outright: C0 controls (not \t \n \r), DEL+C1 range,
# replacement char, zero-widths, BOM
CLEAN_DROP_PATTERN = ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f"
                      "\u007f-\u009f\ufffd\u200b-\u200d\ufeff]")
# mapped to a plain space: NBSP + the unicode space family
CLEAN_SPACE_PATTERN = "[\u00a0\u2000-\u200a\u202f\u3000]"


def clean_unicode(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ftfy-lite text hygiene: fix common mojibake digraphs, drop
    control/replacement/zero-width characters, normalize exotic spaces
    to ASCII space. Returns ``(id, clean_text, n_fixed)`` where
    ``n_fixed`` counts fixed mojibake sequences + dropped chars +
    normalized spaces, for audit.

    Zero-shuffle codegen map like :func:`redact_pii`; the constants
    above are shared verbatim with the x49 oracle generator.
    """
    cur = F.col(text_col)
    n_moji = F.lit(0).cast("double")
    for bad, good in MOJIBAKE_FIXES:
        cnt = (F.length(cur)
               - F.length(F.replace(cur, F.lit(bad), F.lit("")))) \
            / F.lit(len(bad))
        n_moji = n_moji + cnt
        cur = F.replace(cur, F.lit(bad), F.lit(good))
    n_drop = F.length(cur) - F.length(
        F.regexp_replace(cur, CLEAN_DROP_PATTERN, ""))
    n_space = F.regexp_count(cur, F.lit(CLEAN_SPACE_PATTERN))
    cur = F.regexp_replace(cur, CLEAN_DROP_PATTERN, "")
    cur = F.regexp_replace(cur, CLEAN_SPACE_PATTERN, " ")
    return df.select(
        F.col(id_col), cur.alias("clean_text"),
        F.round(n_moji + n_drop + n_space).cast("bigint")
        .alias("n_fixed"))
