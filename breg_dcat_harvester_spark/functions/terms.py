"""RDF term column functions — n3 forms and N-Triples literal escaping.

Parity-critical (SURVEY.md §2.7 F1):

* ``to_n3``     — the reference surfaces every term as its N3 lexical form
  (``term.n3()``, browser.py:127-130): ``<uri>`` for URIs, ``"lex"@lang`` /
  ``"lex"^^<dtype>`` for literals.  One canonical SQL expression here so every
  operator formats terms identically.

All are pure Column expressions (whole-stage codegen; no Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# RDF 1.1 N-Triples STRING_LITERAL_QUOTE: ECHAR-escape exactly the code
# points the production forbids unescaped (rdflib's Literal.n3() applies the
# same escapes).  ORDER MATTERS: backslash first, or the escapes just
# introduced would be re-escaped.
NT_ESCAPES = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r")]


def escape_nt_literal(col: Column) -> Column:
    """RDF 1.1 literal escaping as a codegen Column expression."""
    out = col
    for raw, esc in NT_ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return out


def unescape_nt_literal(col: Column) -> Column:
    """Inverse of ``escape_nt_literal`` (round-trip tests).  Uses a NUL
    placeholder so ``\\\\n`` decodes to backslash+n, not newline — correct
    for any input that contains no raw NUL (which the escaper never emits).
    """
    out = F.replace(col, F.lit("\\\\"), F.lit("\x00"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    return F.replace(out, F.lit("\x00"), F.lit("\\"))


def to_n3(value: Column, obj_kind: Column, lang: Column, dtype: Column) -> Column:
    """Canonical N3 form of a term (reference term.n3(), browser.py:128).

    Literal lexical forms are ECHAR-escaped exactly as rdflib's ``n3()``
    escapes them, so the output is valid N-Triples for any text.
    """
    literal = F.concat(F.lit('"'), escape_nt_literal(value), F.lit('"'))
    literal = F.when(lang.isNotNull(), F.concat(literal, F.lit("@"), lang)).otherwise(
        F.when(
            dtype.isNotNull() & (dtype != F.lit("http://www.w3.org/2001/XMLSchema#string")),
            F.concat(literal, F.lit("^^<"), dtype, F.lit(">")),
        ).otherwise(literal)
    )
    return F.when(obj_kind == F.lit("uri"), F.concat(F.lit("<"), value, F.lit(">"))).otherwise(
        literal
    )


def subj_n3(subj: Column) -> Column:
    """Subjects are always URIs post-skolemization (store.py:19-25)."""
    return F.concat(F.lit("<"), subj, F.lit(">"))
