"""PII redaction — map-only scrubbing for training-data curation.

A 100 TB-scale corpus pipeline redacts personally identifiable spans before
packing (The Pile / RefinedWeb / FineWeb all ship a regex-redaction stage).
Pure `regexp_replace`/`regexp_count` Column expressions — whole-stage
codegen, zero shuffle, zero Python — so it fuses into the same scan as the
quality flags (``plans/ingest.py`` runs both in one pass).

Pattern dialect is the intersection of Java regex (Spark) and RE2 (DuckDB
oracle): no backreferences, no lookaround — the patterns below compile and
match identically in both, which is what the `pii_redact` contract query
asserts byte-for-byte on the redacted text.

Redaction order matters where patterns can nest (an IPv4 inside an email's
domain): emails are replaced first, so the later IP pass cannot split an
address that the email pass already owns.  Counts are computed per pattern
over the ORIGINAL text (documented: a nested span counts under both kinds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (kind, pattern, replacement) — order is the redaction order
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CC>"),
    ("phone", r"\+\d{9,15}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_text(col: Column) -> Column:
    """The redacted text column (chained full-string regexp_replace)."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``redacted`` plus one ``n_<kind>`` span count per pattern."""
    out = df.withColumn("redacted", redact_text(F.col(text_col)))
    for kind, pat, _ in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    return out


def pii_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level span totals: one row per PII kind (map-side partial agg)."""
    flagged = redact_pii(df, text_col)
    kinds = [
        F.struct(F.lit(kind).alias("kind"), F.col(f"n_{kind}").alias("n"))
        for kind, _, _ in PII_PATTERNS
    ]
    return (
        flagged.select(F.explode(F.array(*kinds)).alias("k"))
        .groupBy(F.col("k.kind").alias("kind"))
        .agg(
            F.sum("k.n").cast("long").alias("n_spans"),
            F.sum((F.col("k.n") > 0).cast("long")).cast("long").alias("n_docs"),
        )
    )


def oracle_redact_sql(text_expr: str) -> str:
    """DuckDB twin of ``redact_text`` over an arbitrary text expression."""
    out = text_expr
    for _, pat, repl in PII_PATTERNS:
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '{repl}', 'g')"
    return out


def oracle_count_sql(text_expr: str, kind: str) -> str:
    """DuckDB twin of the per-kind span count."""
    pat = next(p for k, p, _ in PII_PATTERNS if k == kind).replace("'", "''")
    return f"CAST(len(regexp_extract_all({text_expr}, '{pat}')) AS BIGINT)"
