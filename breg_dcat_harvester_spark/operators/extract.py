"""Triple extraction: transcript turns -> (subj, pred, obj) edge rows.

The reference's harvest stage streams each source document through
``store_graph.parse(source.uri, format=...)`` (harvest.py:51-53), turning
documents into triples.  Here each *turn* is a document fragment: mention
blocks in ``text`` (grammar in datagen.py) are detected in batch and mapped
to BRegDCAT-AP triples, with the turn's ``role``/``tool`` context folded into
provenance predicates (``prov:wasAttributedTo`` / ``prov:wasGeneratedBy``)
and ``(conv_id, turn_idx)`` kept as per-triple lineage columns (replacing the
reference's per-source provenance dicts, harvest.py:59 / models.py:73-79).

One implementation, ``extract_edges``, on every path (harvest, increment,
streaming, contract queries):

1. ``_python_boundary_input`` projects the five columns the kernel reads and
   drops turns without a ``[[`` opener JVM-side;
2. ``mapInArrow`` runs ``_extract_arrow_core`` — pyarrow-compute kernels
   over raw ``pa.RecordBatch``es, no pandas — which returns *coded* rows
   ``(subj, pred_code, obj, conv_id, turn_idx)``;
3. ``decode_coded_edges`` rebuilds ``pred`` and derives ``obj_kind``,
   ``lang`` and ``dtype`` with codegen expressions, giving the ``EDGES``
   columns.

It is checked against the row-at-a-time oracle in tests/oracle.py
(tests/test_extract.py, hypothesis-style fuzz in tests/test_extract_fuzz.py).

Scale notes: extraction is embarrassingly parallel (no shuffle); output
partitioning is inherited from the scan, so a 100 TB input runs as one
map-only stage.  Dedup/merge happens downstream (merge.py) where partial
aggregation keeps the shuffle small.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import (
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

BLOCK_RE = r"\[\[([^\[\]]+)\]\]"
XSD_STRING = XSD + "string"
# literal properties carrying an @en language tag (label-ish predicates the
# reference resolves with lang="en", browser.py:126,140)
EN_KEYS = ("title", "description", "name")

# Coded boundary: the pred vocabulary is tiny and closed, so pred crosses
# the Arrow stream as an int32 code into ALL_PRED_URIS (0 = rdf:type,
# 1 + i = the i-th PRED_URIS key, then the two provenance preds).  obj_kind,
# lang and dtype are exact functions of (pred_code, obj) under the emission
# rules below, so they never cross at all: an object is a URI iff it starts
# with a scheme prefix ('#'-fragments expand into BREG_NS, itself http://),
# dtype is xsd:string iff literal, and lang is "en" iff literal and the key
# is one of EN_KEYS.
ALL_PRED_URIS: list[str] = [RDF_TYPE, *PRED_URIS.values(), PROV_ROLE, PROV_TOOL]
EN_PRED_CODES: list[int] = [1 + list(PRED_URIS).index(k) for k in EN_KEYS]
_ROLE_CODE = len(PRED_URIS) + 1
_TOOL_CODE = len(PRED_URIS) + 2
CODED_EDGES = "subj string, pred_code int, obj string, conv_id string, turn_idx int"
_CODED_PA_SCHEMA = pa.schema(
    [
        ("subj", pa.string()),
        ("pred_code", pa.int32()),
        ("obj", pa.string()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
    ]
)

_BLOCK_RE_NAMED = r"\[\[(?P<b>[^\[\]]+)\]\]"
_ID_RE_NAMED = r"(?:^|\|)id=(?P<v>[^|]*)"
_CLASS_KEYS = pa.array(list(CLASS_URIS.keys()), type=pa.string())
_CLASS_VALS = pa.array(list(CLASS_URIS.values()), type=pa.string())
_PRED_KEYS = pa.array(list(PRED_URIS.keys()), type=pa.string())


def _coded_part(subj, pred_code, obj, conv_id, turn_idx) -> pa.Table:
    if isinstance(pred_code, int):
        pred_code = pa.array(np.full(len(subj), pred_code, dtype=np.int32))
    return pa.table(
        [subj, pred_code, obj, conv_id, pc.cast(turn_idx, pa.int32(), safe=False)],
        schema=_CODED_PA_SCHEMA,
    )


def _block_rows(text, conv, turn, role, tool):
    """One row per mention block: ``(body, conv, turn, role, tool)``.

    Turns with one ``[[`` opener (every turn the datagen grammar writes)
    take the RE2 ``extract_regex`` kernel.  Turns with several openers need
    every match, which ``extract_regex`` does not give; their bodies come
    from ``re.findall`` and join the same columns, so both kinds run the
    same block path below.  A null text counts as no opener.
    """
    n_open = pc.fill_null(pc.count_substring(text, "[["), 0)
    single = pc.equal(n_open, 1)
    body = pc.struct_field(pc.extract_regex(text.filter(single), _BLOCK_RE_NAMED), 0)
    ctx = [a.filter(single) for a in (conv, turn, role, tool)]
    multi = pc.greater(n_open, 1)
    if pc.any(multi).as_py():
        found = [re.findall(BLOCK_RE, t) for t in text.filter(multi).to_pylist()]
        rows = np.repeat(
            np.nonzero(multi.to_numpy(zero_copy_only=False))[0],
            [len(f) for f in found],
        )
        body = pa.concat_arrays(
            [body, pa.array([b for f in found for b in f], type=pa.string())]
        )
        ctx = [
            pa.concat_arrays([c, a.take(rows)])
            for c, a in zip(ctx, (conv, turn, role, tool))
        ]
    return (body, *ctx)


def _extract_arrow_core(
    text: pa.Array,
    conv: pa.Array,
    turn: pa.Array,
    role: pa.Array,
    tool: pa.Array,
    emit_provenance: bool = True,
) -> pa.Table:
    """pyarrow-compute extraction over raw Arrow columns -> coded rows
    ``(subj, pred_code, obj, conv_id, turn_idx)``.

    RE2 regex, SIMD substring scans and columnar buffers; Python objects only
    for the rare multi-opener bodies and blank-node skolem mints.  Python-re
    semantics the RE2 kernels don't share are reproduced explicitly: ``$``
    matching before one trailing newline in the value pattern ``(.*)$``
    becomes a strip of at most one trailing newline plus a reject of any
    value still holding one.
    """
    body, conv, turn, role, tool = _block_rows(text, conv, turn, role, tool)
    if not len(body):
        return _CODED_PA_SCHEMA.empty_table()

    fields = pc.split_pattern(body, "|")
    class_uri = pc.take(
        _CLASS_VALS, pc.index_in(pc.list_element(fields, 0), value_set=_CLASS_KEYS)
    )
    local = pc.struct_field(pc.extract_regex(body, _ID_RE_NAMED), 0)
    keep = pc.fill_null(
        pc.and_(pc.is_valid(class_uri), pc.not_equal(pc.fill_null(local, ""), "")),
        False,
    )
    fields, class_uri, local, conv, turn, role, tool = (
        a.filter(keep) for a in (fields, class_uri, local, conv, turn, role, tool)
    )
    if not len(local):
        return _CODED_PA_SCHEMA.empty_table()

    subj = pc.binary_join_element_wise(BREG_NS, local, "")
    is_b = pc.starts_with(local, "_:")
    if pc.any(is_b).as_py():
        # skolem mint (sha256 isn't an arrow kernel) on the rare blank-node
        # subset only: urn:skolem:sha256(conv_id|turn_idx|local)
        s = subj.to_numpy(zero_copy_only=False).copy()
        cv = conv.to_numpy(zero_copy_only=False)
        tn = turn.to_numpy(zero_copy_only=False)
        lc = local.to_numpy(zero_copy_only=False)
        for i in np.nonzero(is_b.to_numpy(zero_copy_only=False))[0]:
            payload = f"{cv[i]}|{tn[i]}|{lc[i]}"
            s[i] = SKOLEM_NS + hashlib.sha256(payload.encode("utf-8")).hexdigest()
        subj = pa.array(s, type=pa.string())

    parts = [_coded_part(subj, 0, class_uri, conv, turn)]

    kvlists = pc.list_slice(fields, 1)
    parent = pc.list_parent_indices(kvlists)
    eq = pc.split_pattern(pc.list_flatten(kvlists), "=", max_splits=1)
    two = pc.equal(pc.list_value_length(eq), 2)
    eq, parent = eq.filter(two), parent.filter(two)
    key_idx = pc.index_in(pc.list_element(eq, 0), value_set=_PRED_KEYS)
    # python-re `(.*)$` semantics: strip at most ONE trailing newline,
    # reject any value still containing one
    val = pc.replace_substring_regex(pc.list_element(eq, 1), r"\n$", "")
    keep2 = pc.fill_null(
        pc.and_(
            pc.and_(pc.is_valid(key_idx), pc.not_equal(val, "")),
            pc.invert(pc.match_substring(val, "\n")),
        ),
        False,
    )
    key_idx, val, parent = (a.filter(keep2) for a in (key_idx, val, parent))
    if len(val):
        obj = pc.if_else(
            pc.starts_with(val, "#"),
            pc.binary_join_element_wise(BREG_NS, pc.utf8_slice_codeunits(val, 1), ""),
            val,
        )
        parts.append(
            _coded_part(
                subj.take(parent),
                pc.add(key_idx, pa.scalar(1, pa.int32())),
                obj,
                conv.take(parent),
                turn.take(parent),
            )
        )

    if emit_provenance:
        for col, code, ns in ((role, _ROLE_CODE, ROLE_NS), (tool, _TOOL_CODE, TOOL_NS)):
            has = pc.is_valid(col)
            if pc.any(has).as_py():
                parts.append(
                    _coded_part(
                        subj.filter(has),
                        code,
                        pc.binary_join_element_wise(ns, col.filter(has), ""),
                        conv.filter(has),
                        turn.filter(has),
                    )
                )
    return pa.concat_tables(parts)


def _python_boundary_input(transcripts: DataFrame) -> DataFrame:
    """Project + prefilter the rows shipped across the Python boundary.

    Column pruning: mapInArrow is a black box to Catalyst, so columns the
    extractor never reads (ts, caller extras) are dropped here.

    Row pruning: a turn without a ``[[`` opener can emit NO triple — the
    subject exists only when a block parses, and even provenance edges hang
    off that subject — so the JVM-side ``contains`` filter (whole-stage
    codegen, ~50M rows/s/core) keeps those rows out of the Arrow exchange
    entirely.  On this corpus only ~40% of turns carry a block: boundary
    traffic (the measured scaling bottleneck — JVM->python serialize +
    socket memcpy) drops 2.5x before a single Python byte moves.  Null
    texts are dropped by the same predicate (null contains -> null ->
    filtered), matching the kernel's behavior.
    """
    used = ["conv_id", "turn_idx", "role", "tool", "text"]
    return transcripts.select(*used).filter(F.col("text").contains("[["))


def decode_coded_edges(coded: DataFrame) -> DataFrame:
    """Rebuild the full EDGES columns from coded rows — pure codegen exprs."""
    pred = F.element_at(
        F.array(*[F.lit(u) for u in ALL_PRED_URIS]), F.col("pred_code") + 1
    )
    is_uri = (
        F.col("obj").startswith("http://")
        | F.col("obj").startswith("https://")
        | F.col("obj").startswith("urn:")
    )
    return coded.select(
        "subj",
        pred.alias("pred"),
        "obj",
        F.when(is_uri, "uri").otherwise("literal").alias("obj_kind"),
        F.when(~is_uri & F.col("pred_code").isin(EN_PRED_CODES), "en")
        .cast("string")
        .alias("lang"),
        F.when(~is_uri, XSD_STRING).cast("string").alias("dtype"),
        "conv_id",
        "turn_idx",
    )


def extract_edges(
    transcripts: DataFrame, emit_provenance: bool = True, impl: str = "arrow"
) -> DataFrame:
    """Transcripts -> ``EDGES`` rows through the one coded Arrow boundary.

    ``impl`` names that boundary; "arrow" is the only value.
    """
    if impl != "arrow":
        raise ValueError(f"unknown extract impl: {impl!r} (only 'arrow')")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from breg_dcat_harvester_spark.functions.workerenv import pin_native_threads

        pin_native_threads()
        for b in batches:
            out = _extract_arrow_core(
                *(b.column(c) for c in ("text", "conv_id", "turn_idx", "role", "tool")),
                emit_provenance=emit_provenance,
            )
            if out.num_rows:
                yield from out.combine_chunks().to_batches()

    coded = _python_boundary_input(transcripts).mapInArrow(run, schema=CODED_EDGES)
    return decode_coded_edges(coded)
