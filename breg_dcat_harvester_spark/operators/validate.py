"""SHACL validation as DataFrame operations (SURVEY.md §2.2/2.4).

The reference outsources validation to the remote ITB SHACL API
(validator.py:14-15,56-71) and checks the report for ``sh:conforms true``,
falling back (non-strict) to "no sh:Violation results" (validator.py:34-53).
In-engine, a SHACL shapes document compiles to constraint rows
(``load_shacl_shapes`` -> ``CompiledShapes``) and ``full_shapes_report``
evaluates every compiled family on the edge table: min/max cardinality,
value checks (sh:nodeKind / sh:datatype / sh:pattern), sh:class and
sh:hasValue.  Every verdict comes from that one report.  The harvest
gates on the packaged document (``PACKAGED_SHAPES_TTL``); the reference's
complete shapes file compiles through the same path.

Semantics preserved:
* P1  validate-then-gate: ``harvest.py:41-47`` aborts the whole job if any
  source is invalid (all-or-nothing) — ``gate_all_or_nothing``.
* P2/P3 strict vs lenient: strict requires full conformance; lenient accepts
  entities with no *Violation*-severity result.  Each constraint carries its
  sh:severity; lenient mode only fails on 'Violation'.
* P4  disabled validator (DummyValidator, validator.py:134-141) -> lit(True).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import RDF_TYPE


@dataclass(frozen=True)
class Shape:
    """One cardinality constraint: class + property + [min,max] + severity."""

    target_class: str
    path: str
    min_count: int = 0
    max_count: int | None = None
    severity: str = "Violation"


# The shapes document the harvest validates against: the BRegDCAT-AP
# cardinality constraints the sample corpus exercises
# (BRegDCAT-AP_shacl_shapes_2.00.ttl:717-760 region).  Turtle text in a
# module, not a .ttl file, so it ships inside any zipped package.  The
# Dataset identifier bound is a Warning: the reference file gives it no
# maxCount, so it only fails strict validation.
PACKAGED_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix dcat: <http://www.w3.org/ns/dcat#> .
@prefix dct: <http://purl.org/dc/terms/> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix : <urn:breg:shapes:> .
:Catalog_Shape a sh:NodeShape ; sh:targetClass dcat:Catalog ;
    sh:property [ sh:path dct:description ; sh:minCount 1 ] ,
        [ sh:path dct:identifier ; sh:minCount 1 ; sh:maxCount 1 ] ,
        [ sh:path dct:title ; sh:minCount 1 ] ,
        [ sh:path dct:publisher ; sh:minCount 1 ; sh:maxCount 1 ] .
:Agent_Shape a sh:NodeShape ; sh:targetClass foaf:Agent ;
    sh:property [ sh:path foaf:name ; sh:minCount 1 ] .
:Dataset_Shape a sh:NodeShape ; sh:targetClass dcat:Dataset ;
    sh:property [ sh:path dct:identifier ; sh:minCount 1 ; sh:maxCount 1 ;
                  sh:severity sh:Warning ] .
"""


@functools.cache
def packaged_shapes() -> CompiledShapes:
    """``PACKAGED_SHAPES_TTL`` compiled (once per process)."""
    return load_shacl_shapes(PACKAGED_SHAPES_TTL, "packaged-shapes")


def cardinality_violations(edges: DataFrame, shapes: list[Shape]) -> DataFrame:
    """sh:minCount / sh:maxCount violations: subj, entity_type, path,
    value (NULL), check_kind, severity — one row per (entity, constraint)
    breach, as the ITB report the reference scans for
    ``sh:resultSeverity sh:Violation`` (validator.py:50-51)."""
    spark = edges.sparkSession
    shapes_df = spark.createDataFrame(
        [(s.target_class, s.path, s.min_count, s.max_count, s.severity) for s in shapes],
        "target_class string, path string, min_count int, max_count int, severity string",
    )

    # ONE groupBy(subj) computes everything the checks need: the entity's
    # type set plus a distinct-object count per constrained path (the shape
    # paths are a small fixed set, so one conditional count_distinct column
    # each).
    paths = sorted({s.path for s in shapes})
    per_subj = (
        edges.filter(
            (F.col("pred") == RDF_TYPE) | F.col("pred").isin(*paths)
        )
        .groupBy("subj")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(
                        F.when(F.col("pred") == RDF_TYPE, F.col("obj"))
                    )
                )
            ).alias("types"),
            *[
                F.count_distinct(
                    F.when(F.col("pred") == p, F.col("obj"))
                ).alias(f"_c{i}")
                for i, p in enumerate(paths)
            ],
        )
        .filter(F.size("types") > 0)
    )
    # multi-typed entities get every applicable shape
    exploded = per_subj.select(
        "subj", F.explode("types").alias("entity_type"),
        *[f"_c{i}" for i in range(len(paths))],
    )
    cnt = F.lit(None).cast("long")
    for i, p in enumerate(paths):
        cnt = F.when(F.col("path") == p, F.col(f"_c{i}")).otherwise(cnt)
    checks = exploded.join(
        F.broadcast(shapes_df),
        exploded["entity_type"] == shapes_df["target_class"],
    ).withColumn("count", cnt)
    return checks.filter(
        (F.col("count") < F.col("min_count"))
        | (F.col("max_count").isNotNull() & (F.col("count") > F.col("max_count")))
    ).select(
        "subj", "entity_type", "path",
        F.lit(None).cast("string").alias("value"),
        F.when(F.col("count") < F.col("min_count"), F.lit("minCount"))
        .otherwise(F.lit("maxCount")).alias("check_kind"),
        "severity",
    )


def conforms_column(
    edges: DataFrame,
    compiled: CompiledShapes | None = None,
    strict: bool = False,
    disabled: bool = False,
    type_edges: DataFrame | None = None,
) -> DataFrame:
    """Per-entity boolean verdict (P2/P3/P4): subj, conforms.

    An entity conforms when ``full_shapes_report(edges, compiled,
    type_edges)`` (``compiled`` defaults to ``packaged_shapes()``) has no
    row for it: no row at all under ``strict``, no Violation row otherwise
    (the reference default, validator.py:46-48).  ``disabled=True``
    reproduces DummyValidator.  A per-shard caller passes the whole graph
    as ``type_edges`` so sh:class values may name untouched entities.

    The verdicts are a union of the report's subjects (false) and the
    other typed subjects (true); every report subject is typed, since each
    family targets the rdf:type edges of ``edges``.  A ``~conforms``
    filter (``partition_valid``) prunes the typed branch to an empty
    relation, so the quarantine never aggregates the typed subjects.
    """
    typed = edges.filter(F.col("pred") == RDF_TYPE).select("subj").distinct()
    if disabled:
        return typed.withColumn("conforms", F.lit(True))
    report = full_shapes_report(
        edges, compiled or packaged_shapes(), type_edges=type_edges
    )
    if not strict:
        report = report.filter(F.col("severity") == "Violation")
    bad = report.select("subj").distinct()
    return bad.withColumn("conforms", F.lit(False)).unionByName(
        typed.join(bad, "subj", "left_anti").withColumn("conforms", F.lit(True))
    )


def partition_valid(
    edges: DataFrame,
    verdicts: DataFrame,
    commit: Callable[[DataFrame], DataFrame] = lambda quarantine: quarantine,
) -> tuple[DataFrame, DataFrame]:
    """P1: split edges into (valid, quarantine) by their subject's verdict.

    ``commit`` receives the quarantined edges (those of non-conforming
    subjects) and returns them as stored, e.g. read back from a committed
    snapshot; the valid edges are the rest, split off by the subjects found
    there.  So the verdicts are evaluated once, by whatever materializes
    the quarantine.  The split is exact: every non-conforming subject is
    typed, so at least its rdf:type edge is quarantined.
    """
    bad = verdicts.filter(~F.col("conforms")).select("subj")
    quarantine = commit(edges.join(bad, "subj", "left_semi"))
    valid = edges.join(quarantine.select("subj").distinct(), "subj", "left_anti")
    return valid, quarantine


def gate_all_or_nothing(quarantine: DataFrame) -> None:
    """harvest.py:41-47 semantics: any quarantined entity aborts the run."""
    n_bad = quarantine.select("subj").distinct().count()
    if n_bad:
        raise ValueError(f"Invalid entities found (n={n_bad}); aborting harvest")


@dataclass(frozen=True)
class ValueShape:
    """One value-level constraint (SHACL sh:nodeKind / sh:datatype /
    sh:pattern): class + property + the required term form.

    ``node_kind`` in {'IRI', 'Literal'}; ``datatype`` compares against the
    RDF 1.1 EFFECTIVE datatype (lang-tagged -> rdf:langString, plain ->
    xsd:string); ``pattern`` is a regex in the Java∩RE2 dialect subset
    (so Spark and the DuckDB oracle agree) over the lexical form.  Any
    specified check that fails produces a violation row."""

    target_class: str
    path: str
    node_kind: str | None = None
    datatype: str | None = None
    pattern: str | None = None
    severity: str = "Violation"
    # sh:or of sh:datatype alternatives (the shapes file's
    # DateOrDateTimeDataType_Shape): effective datatype must be one of these
    datatype_any: tuple[str, ...] | None = None


_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _typed_vals(edges: DataFrame, typed: DataFrame, paths: list[str]) -> DataFrame:
    """The shared constrained-edge sliver: every edge on a constrained path
    joined to its subject's types — (subj, path, obj, obj_kind, lang,
    dtype, entity_type).  full_shapes_report computes it ONCE over the
    union of the value+class path sets and lazily checkpoints it; the
    family functions then just filter their own paths."""
    return edges.filter(F.col("pred").isin(paths)).select(
        "subj", F.col("pred").alias("path"), "obj", "obj_kind", "lang", "dtype"
    ).join(typed, "subj")


def value_violations(
    edges: DataFrame,
    shapes: list[ValueShape],
    typed_vals: DataFrame | None = None,
) -> DataFrame:
    """Value-level violations: one row per (entity, path, value, failed
    check) — columns subj, entity_type, path, value, constraint,
    severity.

    Plan shape: the constrained-path slice joins the typed-entity slice
    once (standalone path: both filters push to the scan and the subj
    equi-join is the only exchange).  Under full_shapes_report the caller
    provides ``typed_vals`` — the SHARED lazily-checkpointed sliver — so
    this function adds no join of its own, only the broadcast shape join
    and per-edge codegen'd check predicates.
    """
    if not shapes:
        raise ValueError("value_violations expects at least one shape")
    spark = edges.sparkSession
    shapes_df = spark.createDataFrame(
        [
            (s.target_class, s.path, s.node_kind, s.datatype, s.pattern,
             s.severity, list(s.datatype_any) if s.datatype_any else None)
            for s in shapes
        ],
        "target_class string, path string, node_kind string, "
        "datatype string, pattern string, severity string, "
        "datatype_any array<string>",
    )
    paths = sorted({s.path for s in shapes})
    if typed_vals is None:
        typed = (
            edges.filter(F.col("pred") == RDF_TYPE)
            .select("subj", F.col("obj").alias("entity_type"))
            .distinct()
        )
        typed_vals = _typed_vals(edges, typed, paths)
    tv = typed_vals.filter(F.col("path").isin(paths))
    effective_dtype = F.when(
        F.col("obj_kind") != "literal", F.lit(None).cast("string")
    ).when(F.col("lang").isNotNull(), F.lit(_RDF_LANGSTRING)).otherwise(
        F.coalesce(F.col("dtype"), F.lit(_XSD_STRING))
    )
    joined = (
        tv.join(
            F.broadcast(shapes_df),
            (F.col("entity_type") == F.col("target_class"))
            & (tv["path"] == shapes_df["path"]),
        )
        .drop(shapes_df["path"])
        .withColumn("eff_dtype", effective_dtype)
    )
    nk_bad = F.col("node_kind").isNotNull() & (
        F.when(F.col("node_kind") == "IRI", F.col("obj_kind") != "uri")
        .when(F.col("node_kind") == "Literal", F.col("obj_kind") != "literal")
        .otherwise(F.lit(True))  # unknown node_kind: fail loudly per row
    )
    dt_bad = F.col("datatype").isNotNull() & (
        (F.col("obj_kind") != "literal")
        | (F.col("eff_dtype") != F.col("datatype"))
    )
    dt_any_bad = F.col("datatype_any").isNotNull() & (
        (F.col("obj_kind") != "literal")
        | ~F.array_contains(F.col("datatype_any"), F.col("eff_dtype"))
    )
    pat_bad = F.col("pattern").isNotNull() & ~F.regexp_like(
        F.col("obj"), F.col("pattern")
    )
    checks = [
        ("nodeKind", nk_bad), ("datatype", dt_bad),
        ("datatypeAny", dt_any_bad), ("pattern", pat_bad),
    ]
    rows = joined.select(
        "subj", "entity_type", "path", F.col("obj").alias("value"), "severity",
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in checks]
        ).alias("_fails"),
    ).select(
        "subj", "entity_type", "path", "value",
        F.explode("_fails").alias("check_kind"), "severity",
    ).filter(F.col("check_kind").isNotNull())
    return rows.select(
        "subj", "entity_type", "path", "value", "check_kind", "severity"
    ).distinct()


# ---------------------------------------------------------------------------
# Full BRegDCAT-AP shapes: constraints as DATA parsed from the reference's
# own shapes file (ontology/BRegDCAT-AP_shacl_shapes_2.00.ttl, 18
# sh:targetClass node shapes / 158 property shapes), not hand-coded rows.
# ---------------------------------------------------------------------------

_SH = "http://www.w3.org/ns/shacl#"


@dataclass(frozen=True)
class ClassShape:
    """sh:class: every value of ``path`` on a ``target_class`` instance must
    be a URI carrying rdf:type of one of ``classes`` in the graph (a single
    sh:class compiles to a 1-tuple; an sh:or of sh:class alternatives — the
    shapes file's DcatResource_Shape — to the full tuple)."""

    target_class: str
    path: str
    classes: tuple[str, ...]
    severity: str = "Violation"


@dataclass(frozen=True)
class HasValueShape:
    """sh:hasValue: a ``target_class`` instance must carry at least one
    ``path`` edge whose object equals ``value``."""

    target_class: str
    path: str
    value: str
    severity: str = "Violation"


@dataclass(frozen=True)
class CompiledShapes:
    """The reference shapes file compiled to constraint rows (pure data).

    ``skipped`` records property shapes whose constraint kind is outside
    the engine's subset (sh:node / sh:shape sub-shape references and
    unrecoverable sh:nodeKind values) — honest refusal, never silent
    mis-validation.  ``recovered`` records constraints the compiler
    salvaged from MALFORMED rows by their evident intent (the reference
    file's two `sh:nodeKind <non-node-kind>` rows compile as class
    constraints) — visible provenance, so a caller auditing a foreign
    shapes document can see every interpretation decision."""

    cardinality: tuple = ()
    value: tuple = ()
    klass: tuple = ()
    has_value: tuple = ()
    skipped: tuple = ()
    recovered: tuple = ()


_NODEKIND_MAP = {
    _SH + "IRI": "IRI",
    _SH + "BlankNodeOrIRI": "IRI",  # blank nodes are skolemized to URIs
    _SH + "Literal": "Literal",
}


def load_shacl_shapes(ttl_text: str, doc_id: str = "shacl-shapes") -> CompiledShapes:
    """Parse a SHACL shapes Turtle document into constraint rows.

    Handles the surface the reference file uses: node shapes with
    ``sh:targetClass`` and ``sh:property`` blank nodes carrying
    ``sh:path`` / ``sh:minCount`` / ``sh:maxCount`` / ``sh:nodeKind`` /
    ``sh:datatype`` / ``sh:pattern`` / ``sh:class`` / ``sh:hasValue`` /
    ``sh:severity``.  ``sh:node``/``sh:shape`` references and unknown
    nodeKind values go to ``skipped``.
    """
    from ..sources.rdf_parse import parse_turtle_doc

    triples = list(parse_turtle_doc(ttl_text, "urn:shacl:", doc_id))
    by_subj: dict[str, dict[str, list[str]]] = {}
    for s, p, o, _k, _lg, _dt in triples:
        by_subj.setdefault(s, {}).setdefault(p, []).append(o)

    card: list[Shape] = []
    value: list[ValueShape] = []
    klass: list[ClassShape] = []
    has_value: list[HasValueShape] = []
    skipped: list[tuple[str, str, str]] = []
    recovered: list[tuple[str, str, str]] = []

    _RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

    def _rdf_list(head: str) -> list[str] | None:
        items, visited = [], set()
        while head != _RDF + "nil":
            if head in visited:  # cyclic rdf:rest chain: refuse, don't hang
                return None
            visited.add(head)
            node = by_subj.get(head, {})
            firsts, rests = node.get(_RDF + "first"), node.get(_RDF + "rest")
            if not firsts or not rests:
                return None
            items.append(firsts[0])
            head = rests[0]
        return items

    def resolve_or(ref: str, constraint: str) -> tuple[str, ...] | None:
        """A referenced node shape that is purely sh:or of single-constraint
        alternatives (the file's DateOrDateTimeDataType_Shape /
        DcatResource_Shape) compiles to a value tuple for that constraint;
        anything else returns None (-> skipped)."""
        ors = by_subj.get(ref, {}).get(_SH + "or")
        if not ors:
            return None
        items = _rdf_list(ors[0])
        if not items:
            return None
        vals = []
        for it in items:
            v = by_subj.get(it, {}).get(_SH + constraint)
            if not v:
                return None
            vals.append(v[0])
        return tuple(vals)

    # classes this document targets: the only non-SHACL sh:nodeKind values
    # that recover as a class constraint
    target_classes = {
        c for props in by_subj.values() for c in props.get(_SH + "targetClass", [])
    }

    for node, props in by_subj.items():
        targets = props.get(_SH + "targetClass")
        if not targets:
            continue
        for pshape in props.get(_SH + "property", []):
            pp = by_subj.get(pshape, {})
            paths = pp.get(_SH + "path")
            if not paths or len(paths) != 1:
                skipped.append((node, pshape, "missing/complex sh:path"))
                continue
            path = paths[0]
            sev = (pp.get(_SH + "severity") or [_SH + "Violation"])[0]
            sev = sev.rsplit("#", 1)[-1]
            # any VALIDATING constraint kind outside the compiled subset is
            # recorded, never silently dropped ("honest refusal") —
            # annotation-only predicates are the known non-validating set
            _handled = {
                "path", "severity", "minCount", "maxCount", "nodeKind",
                "datatype", "pattern", "class", "hasValue", "node", "shape",
                # annotations (SHACL non-validating characteristics)
                "name", "message", "description", "order", "group",
                "deactivated",
            }
            for ppred in pp:
                if ppred.startswith(_SH) and ppred[len(_SH):] not in _handled:
                    for target in targets:
                        skipped.append(
                            (target, path,
                             f"unsupported constraint {ppred[len(_SH):]}")
                        )
            for target in targets:
                # each bound parses on its own: a non-integer literal is
                # refused loudly in `skipped` (never a crash) and the
                # other, valid bound still compiles
                bounds = {}
                for field, pred in (
                    ("min_count", "minCount"), ("max_count", "maxCount"),
                ):
                    lits = pp.get(_SH + pred)
                    if not lits:
                        continue
                    try:
                        bounds[field] = int(lits[0])
                    except ValueError:
                        skipped.append(
                            (target, path, f"malformed cardinality {lits[0]!r}")
                        )
                if bounds:
                    card.append(Shape(target, path, severity=sev, **bounds))
                nk = pp.get(_SH + "nodeKind")
                dt = pp.get(_SH + "datatype")
                pat = pp.get(_SH + "pattern")
                if nk and nk[0] not in _NODEKIND_MAP:
                    # the source file's two malformed sh:nodeKind rows
                    # (lines 540 / 825) carry recoverable INTENT: a value
                    # that is itself a node shape of sh:or-of-class (the
                    # file's own :DcatResource_Shape) compiles as that
                    # class tuple; a class the same document targets
                    # (eli:LegalResource) is a class constraint.  Any
                    # other value (a typo, a bogus sh:* kind) is an
                    # honest refusal.
                    cls_alt = resolve_or(nk[0], "class")
                    if cls_alt:
                        klass.append(ClassShape(target, path, cls_alt, severity=sev))
                        recovered.append((
                            target, path,
                            f"nodeKind {nk[0]} -> sh:or-of-class sub-shape",
                        ))
                    elif nk[0] in target_classes:
                        klass.append(ClassShape(target, path, (nk[0],), severity=sev))
                        recovered.append((
                            target, path,
                            f"nodeKind {nk[0]} -> class constraint",
                        ))
                    else:
                        skipped.append(
                            (target, path, f"unsupported nodeKind {nk[0]}")
                        )
                    nk = None
                if nk or dt or pat:
                    value.append(ValueShape(
                        target, path,
                        node_kind=_NODEKIND_MAP[nk[0]] if nk else None,
                        datatype=dt[0] if dt else None,
                        pattern=pat[0] if pat else None,
                        severity=sev,
                    ))
                for c in pp.get(_SH + "class", []):
                    klass.append(ClassShape(target, path, (c,), severity=sev))
                for v in pp.get(_SH + "hasValue", []):
                    has_value.append(HasValueShape(target, path, v, severity=sev))
                for ref_pred in (_SH + "node", _SH + "shape"):
                    for ref in pp.get(ref_pred, []):
                        dt_alt = resolve_or(ref, "datatype")
                        cls_alt = None if dt_alt else resolve_or(ref, "class")
                        if dt_alt:
                            value.append(ValueShape(
                                target, path, severity=sev, datatype_any=dt_alt,
                            ))
                        elif cls_alt:
                            klass.append(ClassShape(
                                target, path, cls_alt, severity=sev,
                            ))
                        else:
                            skipped.append(
                                (target, path, f"sub-shape reference {ref}")
                            )
    return CompiledShapes(
        cardinality=tuple(card),
        value=tuple(value),
        klass=tuple(klass),
        has_value=tuple(has_value),
        skipped=tuple(skipped),
        recovered=tuple(recovered),
    )


_REFERENCE_SHAPES_REL = (
    "api/breg_harvester/ontology/BRegDCAT-AP_shacl_shapes_2.00.ttl"
)


def load_reference_shapes(path: str | None = None) -> CompiledShapes:
    """The reference's complete BRegDCAT-AP 2.0 shapes file, compiled.

    Read at runtime from the reference checkout (the same way the harvest
    parity queries read its sample RDF documents) — the shape table is
    derived data, never transcribed by hand.  The checkout root resolves
    from ``$REFERENCE_ROOT`` (default ``/root/reference``) so the package
    is not coupled to one machine layout; pass ``path`` to override
    entirely."""
    if path is None:
        import os

        root = os.environ.get("REFERENCE_ROOT", "/root/reference")
        path = os.path.join(root, _REFERENCE_SHAPES_REL)
    with open(path, encoding="utf-8") as f:
        return load_shacl_shapes(f.read())


def class_violations(
    edges: DataFrame,
    shapes: list[ClassShape],
    typed_vals: DataFrame,
    type_edges: DataFrame | None = None,
) -> DataFrame:
    """sh:class violations: subj, entity_type, path, value, check_kind,
    severity — one row per (entity, path, value) whose value is a literal
    or lacks the required rdf:type.

    Plan shape: the shared constrained-edge sliver (``typed_vals``, which
    carries each subject's type) joins the value-side type sliver — LEFT —
    for the value's required type; the shape table broadcasts.  Both
    slivers push their pred filters to the scan; no aggregation is needed.

    ``type_edges`` (incremental deployment): the value-side rdf:type
    lookup reads THIS frame instead of ``edges`` — a shard slice can then
    validate against the whole graph's types (a constrained value may
    reference an untouched base entity)."""
    spark = edges.sparkSession
    shapes_df = spark.createDataFrame(
        [(s.target_class, s.path, list(s.classes), s.severity) for s in shapes],
        "target_class string, path string, classes array<string>, severity string",
    )
    paths = sorted({s.path for s in shapes})
    tv = typed_vals.filter(F.col("path").isin(paths))
    cand = (
        tv.join(
            F.broadcast(shapes_df),
            (F.col("entity_type") == F.col("target_class"))
            & (tv["path"] == shapes_df["path"]),
        )
        .drop(shapes_df["path"])
    )
    obj_types = (
        (type_edges if type_edges is not None else edges)
        .filter(F.col("pred") == RDF_TYPE)
        .select(F.col("subj").alias("_osubj"), F.col("obj").alias("_otype"))
        .distinct()
    )
    # equi on the value URI; the class-alternative membership rides as a
    # residual join filter
    checked = cand.join(
        obj_types,
        (cand["obj"] == obj_types["_osubj"])
        & F.array_contains(cand["classes"], obj_types["_otype"]),
        "left",
    )
    return (
        checked.filter(
            (F.col("obj_kind") != "uri") | F.col("_otype").isNull()
        )
        .select(
            "subj", "entity_type", "path", F.col("obj").alias("value"),
            F.lit("class").alias("check_kind"), "severity",
        )
        .distinct()
    )


def has_value_violations(
    edges: DataFrame, shapes: list[HasValueShape], typed: DataFrame
) -> DataFrame:
    """sh:hasValue violations: target-class entities missing the required
    (path, value) edge entirely — an anti-join of the typed sliver against
    the constrained-edge sliver."""
    spark = edges.sparkSession
    shapes_df = spark.createDataFrame(
        [(s.target_class, s.path, s.value, s.severity) for s in shapes],
        "target_class string, path string, req_value string, severity string",
    )
    cand = typed.join(
        F.broadcast(shapes_df),
        F.col("entity_type") == F.col("target_class"),
    )
    have = edges.select(
        F.col("subj").alias("_hsubj"), F.col("pred").alias("_hpath"),
        F.col("obj").alias("_hobj"),
    ).distinct()
    missing = cand.join(
        have,
        (cand["subj"] == have["_hsubj"])
        & (cand["path"] == have["_hpath"])
        & (cand["req_value"] == have["_hobj"]),
        "left_anti",
    )
    return missing.select(
        "subj", "entity_type", "path", F.col("req_value").alias("value"),
        F.lit("hasValue").alias("check_kind"), "severity",
    ).distinct()


def full_shapes_report(
    edges: DataFrame,
    compiled: CompiledShapes,
    type_edges: DataFrame | None = None,
) -> DataFrame:
    """Every constraint of a compiled shapes document, one unified
    violations table: subj, entity_type, path, value, check_kind, severity.
    The only validation report: every verdict (``conforms_column``) is
    derived from it.

    check_kind in {minCount, maxCount, nodeKind, datatype, datatypeAny,
    pattern, class, hasValue}; cardinality rows carry a NULL value.
    ``type_edges`` is the frame sh:class value lookups read (default
    ``edges``; a shard slice passes the whole graph).

    The typed-entity sliver is computed ONCE and shared by the value /
    class / hasValue families (the cardinality family fuses its own
    type-collection into its single per-subject agg), and built only when
    one of those families is compiled: its lazy checkpoint starts a job as
    soon as it is planned.
    """
    typed = shared_tv = None
    if compiled.value or compiled.klass or compiled.has_value:
        typed = (
            edges.filter(F.col("pred") == RDF_TYPE)
            .select("subj", F.col("obj").alias("entity_type"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    # the value and class families both need "constrained edges with their
    # subject's types" — computed ONCE over the union of their path sets
    all_paths = sorted(
        {s.path for s in compiled.value} | {s.path for s in compiled.klass}
    )
    if all_paths:
        shared_tv = _typed_vals(edges, typed, all_paths).localCheckpoint(eager=False)
    parts = []
    if compiled.cardinality:
        parts.append(cardinality_violations(edges, list(compiled.cardinality)))
    if compiled.value:
        parts.append(value_violations(edges, list(compiled.value), shared_tv))
    if compiled.klass:
        parts.append(class_violations(
            edges, list(compiled.klass), shared_tv, type_edges=type_edges
        ))
    if compiled.has_value:
        parts.append(has_value_violations(edges, list(compiled.has_value), typed))
    if not parts:
        raise ValueError(
            "no supported constraints in compiled shapes (empty or "
            "fully-skipped shapes document)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def full_shapes_report_incremental(
    base: DataFrame, shard: DataFrame, compiled: CompiledShapes
) -> DataFrame:
    """Per-shard DEPLOYMENT shape of full-shapes validation.

    The reference validates each ARRIVING harvest, not the accumulated
    graph (``harvest.py:41-47`` gates the job on the new source's
    conformance).  This twin of ``full_shapes_report`` does the same:
    validate ONLY the entities the arriving shard touches, never
    re-validating the base.

    Scale shape: ``touched`` (the shard's subjects) is shard-sized, so
    the base slice is a broadcast semi-join — one map-only probe of the
    (subj-bucketed) base table, no base-sized shuffle — and every
    constraint family then runs on the shard-sized slice.  The single
    graph-wide input is the rdf:type sliver the sh:class object lookups
    need (pred-pruned at the scan; a shard value may reference an
    untouched base entity, so this lookup cannot be sliced).

    Contract (what the oracle checks): the result EQUALS
    ``full_shapes_report`` over the full graph restricted to touched
    subjects — an entity's slice carries all of its edges, so every
    count/check matches the from-scratch run exactly.
    """
    cols = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]
    touched = shard.select("subj").distinct()
    sl = (
        base.select(cols)
        .join(touched, "subj", "left_semi")
        .unionByName(shard.select(cols))
        .dropDuplicates(cols)
    )
    type_edges = base.select(cols).unionByName(shard.select(cols))
    return full_shapes_report(sl, compiled, type_edges=type_edges)
