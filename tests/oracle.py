"""Independent pure-Python row-at-a-time extraction oracle.

Deliberately naive (per-row loops, stdlib only) so it shares no code with the
vectorized Spark/Arrow extractor it checks.  Mirrors the reference's
row-at-a-time rdflib semantics (SURVEY.md §1.1) and is the P/R anchor for the
golden fixtures (FIXTURES.md §3).
"""

from __future__ import annotations

import hashlib
import re

from breg_dcat_harvester_spark.schema import (
    BREG_NS,
    CLASS_URIS,
    PRED_URIS,
    PROV_ROLE,
    PROV_TOOL,
    RDF_TYPE,
    ROLE_NS,
    SKOLEM_NS,
    TOOL_NS,
    XSD,
)

_BLOCK = re.compile(r"\[\[([^\[\]]+)\]\]")


def _property_term(key, value):
    """(obj, obj_kind, lang, dtype) of one ``key=value`` property."""
    if value.startswith("#"):
        return BREG_NS + value[1:], "uri", None, None
    if value.startswith(("http://", "https://", "urn:")):
        return value, "uri", None, None
    lang = "en" if key in ("title", "description", "name") else None
    return value, "literal", lang, XSD + "string"


def extract_row_terms(conv_id, turn_idx, role, text, tool, emit_provenance=True):
    """Yield one (subj, pred, obj, obj_kind, lang, dtype) tuple per emitted
    edge of one turn, with multiplicity (one set per mention block)."""
    for block in _BLOCK.findall(text or ""):
        parts = block.split("|")
        tag = parts[0]
        if tag not in CLASS_URIS:
            continue
        fields = []
        local = None
        for kv in parts[1:]:
            if "=" not in kv:
                continue
            key, value = kv.split("=", 1)
            if key == "id":
                local = local if local is not None else value
            else:
                fields.append((key, value))
        if not local:
            continue
        if local.startswith("_:"):
            digest = hashlib.sha256(f"{conv_id}|{turn_idx}|{local}".encode()).hexdigest()
            subj = SKOLEM_NS + digest
        else:
            subj = BREG_NS + local
        yield (subj, RDF_TYPE, CLASS_URIS[tag], "uri", None, None)
        for key, value in fields:
            # a property value is one line; one trailing newline is dropped
            if value.endswith("\n"):
                value = value[:-1]
            if key not in PRED_URIS or value == "" or "\n" in value:
                continue
            yield (subj, PRED_URIS[key], *_property_term(key, value))
        if emit_provenance:
            if role is not None:
                yield (subj, PROV_ROLE, ROLE_NS + role, "uri", None, None)
            if tool is not None:
                yield (subj, PROV_TOOL, TOOL_NS + tool, "uri", None, None)


def extract_row(conv_id, turn_idx, role, text, tool, emit_provenance=True):
    """Yield (subj, pred, obj) tuples for one turn."""
    for t in extract_row_terms(conv_id, turn_idx, role, text, tool, emit_provenance):
        yield t[:3]


def extract_table(pdf, emit_provenance=True) -> set[tuple[str, str, str]]:
    """Distinct triple set for a transcripts pandas DataFrame."""
    out = set()
    for row in pdf.itertuples(index=False):
        out.update(
            extract_row(
                row.conv_id, row.turn_idx, row.role, row.text,
                None if row.tool is None or (isinstance(row.tool, float)) else row.tool,
                emit_provenance=emit_provenance,
            )
        )
    return out


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    if not got and not expected:
        return 1.0, 1.0
    inter = len(got & expected)
    p = inter / len(got) if got else 0.0
    r = inter / len(expected) if expected else 0.0
    return p, r
