"""PII detection and redaction over document text — the scrubbing
stage every production training-data pipeline runs before anything
else touches the corpus (C4 strips naughty-word docs; Dolma, RefinedWeb
and FineWeb all document regex-class PII pipelines: emails, phone
numbers, IP addresses masked or dropped before training).

Design constraints, in priority order:

1. **Whole-stage-codegen'd column expressions only.** Every detector
   is a `regexp_count` and every redactor a `regexp_replace` — JVM
   regex on the hot path, zero Python, zero UDF. At 100 TB this is a
   single corpus scan with map-side-only work (detection aggregates
   fold per source; redaction is a projection).
2. **Engine-portable regex subset.** The oracle runs the same patterns
   under DuckDB's RE2. RE2 has no backreferences or look-around, and
   Java/RE2 agree on leftmost-first greedy semantics only for the
   plain subset — so the patterns below use ONLY character classes,
   bounded repetition, `(?:...)` groups and ASCII `\\b` boundaries.
   Anything fancier (Luhn checks, international phone grammars)
   belongs in a downstream validator, not the scan regex.
3. **Detection and redaction share one pattern table** (`PII_PATTERNS`)
   so "redact then re-detect" is a closed loop: the registry query
   asserts residual detections on redacted text are ZERO, which makes
   the redactor's completeness a value-checked oracle property, not a
   code-review claim.

Pattern classes (sentinel in parens): email (<EMAIL>), URL (<URL>),
US-style SSN (<SSN>), 3-3-4 phone (<PHONE>), IPv4 (<IP>), 13-16-digit
card-like runs (<CC>). Redaction order is URL FIRST — a URL can carry
an email-shaped userinfo or digit runs in its path, and replacing it
first keeps the later classes from tearing a hole mid-URL — then
email, SSN, phone, IP, CC (longest-digit-run last so phone/SSN hyphens
are gone before the bare-digit pattern looks).

Reference anchor: the walex reference has no PII surface (it is a CDC
router); this family is part of the mandated LLM-pipeline extension
set alongside dedup/quality/langid (SURVEY §2 rows 38+).

Relationship to ``extensions/text.py::redact_pii`` (the r07 per-doc
scrub): that operator emits per-document redacted text with counts for
its 3-class recall-first pattern set (it shares this module's url and
email patterns verbatim, but keeps a deliberately BROADER phone
pattern — at the scrub stage recall beats precision). THIS module is
the 6-class precision-first detection/monitoring surface: per-source
scan aggregates, completeness-hashed redaction, and the incremental
rate monitor (streaming/pii_incr.py), where loose matches would drown
the rate-delta alarms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (name, pattern, sentinel) — pattern must stay inside the Java∩RE2
# portable subset documented above. ORDER IS THE REDACTION ORDER.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("cc", r"\b\d{13,16}\b", "<CC>"),
]


def pii_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document PII detection counts: one `n_<class>` int64 column
    per pattern class plus `has_pii`. One projection, no shuffle —
    the aggregate shape (per-source sums) is the caller's choice;
    ``keep`` carries grouping columns (e.g. source) through."""
    cols = [F.col(id_col), *[F.col(k) for k in keep]]
    any_hit = F.lit(False)
    for name, pat, _ in PII_PATTERNS:
        c = F.regexp_count(F.col(text_col), F.lit(pat)).cast(T.LongType())
        cols.append(c.alias(f"n_{name}"))
        any_hit = any_hit | (c > 0)
    cols.append(any_hit.alias("has_pii"))
    return df.select(*cols)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Replace every PII match with its class sentinel, in the
    documented order. Pure `regexp_replace` chain — one codegen'd
    projection; Spark's regexp_replace is global (all matches)."""
    out = F.col(text_col)
    for _, pat, sentinel in PII_PATTERNS:
        out = F.regexp_replace(out, pat, sentinel)
    return df.withColumn(out_col, out)
