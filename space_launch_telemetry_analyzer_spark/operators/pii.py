"""PII redaction for training-data preparation.

Scan-speed JVM regexp operators (whole-stage codegen, no Python) that
replace emails / IPv4 addresses / phone numbers with typed placeholder
tokens and count what was removed. The patterns are deliberately written in
the common subset of Java regex and RE2 so the DuckDB oracle
(`regexp_replace(..., 'g')`) is bit-exact.

At 100 TB this runs inside the same scan stage as language-ID and quality
scoring — one pass over the text column, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Java-regex / RE2 common-subset patterns (no lookarounds, no backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# international-ish numbers: +CC NNN-NNNN / +CC NNN NNN NNNN etc.
PHONE_RE = r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}([ -][0-9]{3,4})?"

_RULES: tuple[tuple[str, str, str], ...] = (
    # order matters: emails contain dots that could partially look like IPs
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def match_count(text: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of `pattern` in `text`."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds `redacted_text` plus per-category counts (`n_email`, `n_ip`,
    `n_phone`) and the total `n_redacted`. Each category is counted on the
    text AS THE PRECEDING RULES LEFT IT — i.e. counts equal replacements
    actually performed, so `n_redacted` == placeholder tokens inserted.
    (Counting every category on the original text over-reports: a phone
    pattern inside an address the email rule already consumed would be
    counted without ever being redacted.)"""
    cur = F.col(text_col)
    out = df
    total = None
    for name, pattern, token in _RULES:
        c = match_count(cur, pattern)
        out = out.withColumn(f"n_{name}", c)
        total = c if total is None else total + c
        cur = F.regexp_replace(cur, pattern, token)
    return out.withColumn("redacted_text", cur).withColumn("n_redacted", total)
