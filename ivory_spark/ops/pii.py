"""PII detection and redaction operators for training-data pipelines.

Web-scale pretraining corpora are routinely scrubbed of personally
identifiable information before training (e.g. BigScience ROOTS / BigCode
The Stack pipelines redact emails, IPs and phone-like numbers with
regular expressions). These operators provide that pass Spark-first:
pure JVM regexp column expressions — whole-stage codegen, zero shuffle,
zero Python in the hot path — over any text column.

Pattern dialect: every regex here is restricted to the subset with
identical semantics in Java's engine (Spark) and RE2 (the DuckDB
oracle): character classes, bounded/greedy quantifiers, non-capturing
groups, ASCII \\d and \\b. No lookaround, no backreferences — RE2 lacks
them, and greedy-maximal matching then agrees between leftmost-first
(Java) and leftmost-longest (RE2) engines. Matching is intentionally
heuristic (a phone regex has false positives by nature); the pipeline
contract is that it is *deterministic* and engine-reproducible.

Redaction replaces matches with fixed tags (<EMAIL>, <PHONE>, <IP>) in a
fixed order — emails first (their local parts contain digits that the
phone pattern could otherwise nibble), then phones, then IPs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# user@host.tld — local part and host restricted to the common ASCII set.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

# International-prefix phone numbers only (+CC NNN NNN NNNN with space or
# dash separators). Requiring the leading '+' keeps false positives off
# ordinary numeric text; trailing \b stops partial matches inside longer
# digit runs.
PHONE_RE = r"\+\d{1,3}[ -]\d{3}[ -]\d{3}[ -]\d{4}\b"

# Dotted-quad IPv4. \b guards both ends so '1192.168.0.1' or trailing
# extra digits do not half-match.
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_TAGS = ((EMAIL_RE, "<EMAIL>"), (PHONE_RE, "<PHONE>"), (IPV4_RE, "<IP>"))


def pii_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ipv4, has_pii) — match counts per
    document, counted independently on the raw text. Per-row regexp
    projection; no shuffle, no Python.
    """
    t = F.col(text_col)

    def n(pat):
        return F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("int")

    out = docs.select(
        F.col(id_col),
        n(EMAIL_RE).alias("n_emails"),
        n(PHONE_RE).alias("n_phones"),
        n(IPV4_RE).alias("n_ipv4"),
    )
    return out.withColumn(
        "has_pii",
        ((F.col("n_emails") + F.col("n_phones") + F.col("n_ipv4")) > 0).cast("boolean"),
    )


def redact_expr(text: Column) -> Column:
    """The email -> phone -> IPv4 redaction chain as a standalone column
    expression; redact_pii is the projection view of the same chain."""
    t = text
    for pat, tag in _TAGS:
        t = F.regexp_replace(t, pat, tag)
    return t


def redact_pii(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, text) with every email/phone/IPv4 match replaced by its
    tag, applied in the fixed order email -> phone -> IP. Same per-row
    projection shape as pii_stats; the output column keeps `text_col`'s
    name so the op drops into a pipeline in place of the raw table.
    """
    return docs.select(F.col(id_col), redact_expr(F.col(text_col)).alias(text_col))
