"""SHACL shapes documents compiled as data (operators/validate.py
load_shacl_shapes / full_shapes_report / conforms_column).

The reference validates against the COMPLETE shapes file
(``/root/reference/api/breg_harvester/ontology/BRegDCAT-AP_shacl_shapes_2.00.ttl``,
18 ``sh:targetClass`` node shapes, e.g. Catalog at lines 717-760 and Dataset
at 204-234); the engine parses that exact file with its own Turtle parser and
compiles every supported constraint into shape rows — data, not code.  The
harvest's own packaged document compiles through the same path.
"""

import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators.validate import (
    Shape,
    conforms_column,
    full_shapes_report,
    load_reference_shapes,
    load_shacl_shapes,
    packaged_shapes,
)
from breg_dcat_harvester_spark.schema import CLASS_URIS, DCAT, DCT, FOAF, RDF_TYPE

SH = "http://www.w3.org/ns/shacl#"


@pytest.fixture(scope="module")
def compiled():
    return load_reference_shapes()


def test_all_18_target_classes_compiled(compiled):
    targets = (
        {s.target_class for s in compiled.cardinality}
        | {s.target_class for s in compiled.value}
        | {s.target_class for s in compiled.klass}
        | {s.target_class for s in compiled.has_value}
        | {s[0] for s in compiled.skipped}
    )
    # the file declares 18 node shapes over 17 DISTINCT target classes
    # (PublicRegistryService_Shape and Rule_Shape both target cpsv classes;
    # two shapes target cpsv:PublicService-family classes)
    assert len(targets) >= 17
    for expected in (
        CLASS_URIS["Catalog"], CLASS_URIS["Dataset"], CLASS_URIS["Distribution"],
        CLASS_URIS["Agent"], CLASS_URIS["DataService"], CLASS_URIS["CatalogRecord"],
        CLASS_URIS["Concept"], CLASS_URIS["ConceptScheme"], CLASS_URIS["Location"],
    ):
        assert expected in targets, expected


def test_constraint_family_counts(compiled):
    # pinned to the shapes file content: regressions in the parser or the
    # compiler shift these counts
    assert len(compiled.cardinality) == 80
    assert len(compiled.value) == 58
    # 96 direct sh:class rows + the 2 recovered malformed-sh:nodeKind rows
    # (file lines 540 / 825): eli:LegalResource compiles as a class
    # constraint, :DcatResource_Shape resolves through its own sh:or-of-class
    assert len(compiled.klass) == 98
    assert len(compiled.has_value) == 1
    # the COMPLETE file: zero skipped constraints remain, and the two
    # malformed-row recoveries are VISIBLE provenance, not silent
    assert len(compiled.skipped) == 0
    assert len(compiled.recovered) == 2
    assert all("nodeKind" in r[2] for r in compiled.recovered)


def test_packaged_shapes_are_a_subset(compiled):
    """The packaged cardinality rows all derive from the real file (same
    target/path/min_count).  Known divergence: the file gives dataset
    dct:identifier NO maxCount — the packaged max of 1 is a stricter
    approximation, which is why it carries Warning severity."""
    idx = {(s.target_class, s.path): s for s in compiled.cardinality}
    for d in packaged_shapes().cardinality:
        m = idx.get((d.target_class, d.path))
        assert m is not None, (d.target_class, d.path)
        assert m.min_count == d.min_count


def test_packaged_shapes_compile_to_six_cardinality_rows():
    c = packaged_shapes()
    assert c.cardinality == (
        Shape(CLASS_URIS["Catalog"], DCT + "description", min_count=1),
        Shape(CLASS_URIS["Catalog"], DCT + "identifier", min_count=1, max_count=1),
        Shape(CLASS_URIS["Catalog"], DCT + "title", min_count=1),
        Shape(CLASS_URIS["Catalog"], DCT + "publisher", min_count=1, max_count=1),
        Shape(CLASS_URIS["Agent"], FOAF + "name", min_count=1),
        Shape(CLASS_URIS["Dataset"], DCT + "identifier", min_count=1, max_count=1,
              severity="Warning"),
    )
    assert c.value == c.klass == c.has_value == ()
    assert c.skipped == c.recovered == ()
    assert packaged_shapes() is c  # compiled once


def test_cardinality_only_report_plans_no_job(spark):
    """Building the report starts no Spark job when no family needs the
    checkpointed typed sliver (the harvest's packaged shapes)."""
    edges = _edges(spark, [("c", RDF_TYPE, CLASS_URIS["Catalog"], "uri", None, None)])
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = job_ids()
    full_shapes_report(edges, packaged_shapes())
    conforms_column(edges)
    assert job_ids() == before


def test_date_or_datetime_disjunction_resolved(compiled):
    alts = [v for v in compiled.value if v.datatype_any]
    assert len(alts) == 10
    assert all(
        set(v.datatype_any)
        == {
            "http://www.w3.org/2001/XMLSchema#date",
            "http://www.w3.org/2001/XMLSchema#dateTime",
        }
        for v in alts
    )


def test_dcat_resource_class_or_resolved(compiled):
    # 2 via sh:node/sh:shape references + 1 recovered from the malformed
    # `sh:nodeKind :DcatResource_Shape` row (file line 825)
    multi = [k for k in compiled.klass if len(k.classes) > 1]
    assert len(multi) == 3
    assert any(
        set(k.classes)
        == {DCAT + "Catalog", DCAT + "Dataset", DCAT + "DataService"}
        for k in multi
    )


def test_malformed_nodekind_rows_recovered(compiled):
    """File line 540 (`sh:nodeKind eli:LegalResource`) and line 825
    (`sh:nodeKind :DcatResource_Shape`) compile to class constraints —
    a bogus sh:* node kind would still refuse (see
    test_cyclic_rdf_list_and_unknown_constraints_refused)."""
    ELI = "http://data.europa.eu/eli/ontology#LegalResource"
    DCT_REL = "http://purl.org/dc/terms/relation"
    assert any(
        k.target_class == ELI and k.path == DCT_REL and k.classes == (ELI,)
        for k in compiled.klass
    )
    assert any(
        k.target_class == DCAT + "Relationship" and k.path == DCT_REL
        and set(k.classes)
        == {DCAT + "Catalog", DCAT + "Dataset", DCAT + "DataService"}
        for k in compiled.klass
    )


def test_load_small_shapes_doc():
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix dct: <http://purl.org/dc/terms/> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ;
    sh:property [
        sh:path dct:title ; sh:minCount 1 ; sh:maxCount 2 ;
        sh:nodeKind sh:Literal ; sh:severity sh:Violation
    ], [
        sh:path dct:publisher ; sh:class ex:Agent ;
        sh:severity sh:Violation
    ] ;
    sh:targetClass ex:Thing .
"""
    c = load_shacl_shapes(ttl)
    assert len(c.cardinality) == 1
    s = c.cardinality[0]
    assert (s.target_class, s.path, s.min_count, s.max_count) == (
        "http://ex/Thing", DCT + "title", 1, 2)
    assert len(c.value) == 1 and c.value[0].node_kind == "Literal"
    assert len(c.klass) == 1 and c.klass[0].classes == ("http://ex/Agent",)
    assert not c.skipped


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
              "lang string, dtype string")


def test_full_report_on_synthetic_graph(spark):
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix dct: <http://purl.org/dc/terms/> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ;
    sh:property [
        sh:path dct:title ; sh:minCount 1 ; sh:severity sh:Violation
    ], [
        sh:path dct:publisher ; sh:class ex:Agent ; sh:severity sh:Violation
    ], [
        sh:path dct:issued ;
        sh:node [ sh:or ([ sh:datatype <http://www.w3.org/2001/XMLSchema#date> ]
                         [ sh:datatype <http://www.w3.org/2001/XMLSchema#dateTime> ]) ] ;
        sh:severity sh:Violation
    ] ;
    sh:targetClass ex:Thing .
"""
    c = load_shacl_shapes(ttl)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    edges = _edges(spark, [
        # t1: conforms (has title, typed publisher, xsd:date issued)
        ("t1", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("t1", DCT + "title", "ok", "literal", None, XSD + "string"),
        ("t1", DCT + "publisher", "a1", "uri", None, None),
        ("a1", RDF_TYPE, "http://ex/Agent", "uri", None, None),
        ("t1", DCT + "issued", "2020-01-01", "literal", None, XSD + "date"),
        # t2: missing title (minCount), publisher untyped (class),
        # issued a plain string (datatypeAny)
        ("t2", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("t2", DCT + "publisher", "nobody", "uri", None, None),
        ("t2", DCT + "issued", "soon", "literal", None, XSD + "string"),
    ])
    rep = full_shapes_report(edges, c)
    got = {
        (r["subj"], r["check_kind"]) for r in rep.collect()
    }
    assert got == {
        ("t2", "minCount"), ("t2", "class"), ("t2", "datatypeAny"),
    }


def test_has_value_and_maxcount(spark):
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ;
    sh:property [
        sh:path ex:alg ; sh:hasValue ex:sha1 ; sh:severity sh:Violation
    ], [
        sh:path ex:tag ; sh:maxCount 1 ; sh:severity sh:Violation
    ] ;
    sh:targetClass ex:Sum .
"""
    c = load_shacl_shapes(ttl)
    edges = _edges(spark, [
        ("s1", RDF_TYPE, "http://ex/Sum", "uri", None, None),
        ("s1", "http://ex/alg", "http://ex/sha1", "uri", None, None),
        ("s1", "http://ex/tag", "a", "literal", None, None),
        ("s2", RDF_TYPE, "http://ex/Sum", "uri", None, None),
        ("s2", "http://ex/alg", "http://ex/md5", "uri", None, None),
        ("s2", "http://ex/tag", "a", "literal", None, None),
        ("s2", "http://ex/tag", "b", "literal", None, None),
    ])
    rep = full_shapes_report(edges, c)
    got = {(r["subj"], r["check_kind"]) for r in rep.collect()}
    assert got == {("s2", "hasValue"), ("s2", "maxCount")}


def test_conforms_column_applies_every_family(spark):
    """conforms_column's non-conforming subjects are exactly the subjects of
    full_shapes_report's Violation rows (any severity under strict), over
    class, datatype, pattern and hasValue constraints — with a class value
    typed only in ``type_edges``."""
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:Thing ;
    sh:property [ sh:path ex:owner ; sh:class ex:Agent ],
        [ sh:path ex:size ; sh:datatype <http://www.w3.org/2001/XMLSchema#integer> ],
        [ sh:path ex:code ; sh:pattern "^T-[0-9]+$" ; sh:severity sh:Warning ],
        [ sh:path ex:kind ; sh:hasValue ex:Real ] .
"""
    c = load_shacl_shapes(ttl)
    assert (len(c.klass), len(c.value), len(c.has_value)) == (1, 2, 1)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    T, K = "http://ex/Thing", "http://ex/kind"

    def thing(s, owner="a-base", size=("3", XSD + "integer"), code="T-1"):
        return [
            (s, RDF_TYPE, T, "uri", None, None),
            (s, K, "http://ex/Real", "uri", None, None),
            (s, "http://ex/owner", owner, "uri", None, None),
            (s, "http://ex/size", size[0], "literal", None, size[1]),
            (s, "http://ex/code", code, "literal", None, None),
        ]

    rows = (
        thing("ok")
        + thing("bad-class", owner="nobody")
        + thing("bad-datatype", size=("3", XSD + "string"))
        + thing("warn-pattern", code="X-1")
        + [r for r in thing("bad-hasvalue") if r[1] != K]
    )
    edges = _edges(spark, rows)
    # a-base is an Agent only in the whole graph, not in this slice
    whole = edges.unionByName(
        _edges(spark, [("a-base", RDF_TYPE, "http://ex/Agent", "uri", None, None)])
    )
    rep = full_shapes_report(edges, c, type_edges=whole).collect()
    assert {(r.subj, r.check_kind) for r in rep} == {
        ("bad-class", "class"), ("bad-datatype", "datatype"),
        ("warn-pattern", "pattern"), ("bad-hasvalue", "hasValue"),
    }

    def non_conforming(**kw):
        v = conforms_column(edges, c, type_edges=whole, **kw)
        return {r.subj for r in v.filter(~F.col("conforms")).collect()}

    violations = {r.subj for r in rep if r.severity == "Violation"}
    assert violations == {"bad-class", "bad-datatype", "bad-hasvalue"}
    assert non_conforming() == violations
    assert non_conforming(strict=True) == {r.subj for r in rep}
    # without the whole graph every Thing's owner is an untyped value
    sliced = conforms_column(edges, c)
    assert {r.subj for r in sliced.filter(~F.col("conforms")).collect()} == (
        violations | {"ok", "warn-pattern"}
    )


def test_reference_golden_graph_conforms(spark, golden_df):
    """The 33-triple golden harvest (the reference's own documented sample
    trio) is fully conformant under the complete compiled shapes file —
    mirroring the reference stack, whose ITB validation passes these
    samples (README.md:100-101)."""
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.operators.merge import merge_triples

    edges = merge_triples(extract_edges(golden_df))
    rep = full_shapes_report(edges, load_reference_shapes())
    assert rep.count() == 0


def test_reference_file_report_on_corpus(spark, small_transcripts):
    """Over the synthetic corpus the full shapes fire real violations:
    class constraints (plain-URI themes/spatials carry no rdf:type in the
    graph) and the planted every-37th missing-identifier catalogs."""
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.operators.merge import merge_triples

    edges = merge_triples(extract_edges(small_transcripts))
    rep = full_shapes_report(edges, load_reference_shapes())
    rows = rep.collect()
    kinds = {r["check_kind"] for r in rows}
    assert "class" in kinds
    assert "minCount" in kinds
    assert len(rows) == len(set(map(tuple, rows)))


def test_malformed_cardinality_refused_not_crash():
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:minCount "three" ;
                sh:severity sh:Violation ] .
"""
    c = load_shacl_shapes(ttl)
    assert not c.cardinality
    assert any("malformed cardinality" in s[2] for s in c.skipped)

    # one valid bound beside a malformed one: the valid half compiles and
    # the refusal names the malformed literal, not the valid one
    half = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:minCount 1 ; sh:maxCount "two" ;
                sh:severity sh:Violation ] .
"""
    c = load_shacl_shapes(half)
    assert [(s.target_class, s.path, s.min_count, s.max_count)
            for s in c.cardinality] == [("http://ex/T", "http://ex/p", 1, None)]
    assert [s[2] for s in c.skipped] == ["malformed cardinality 'two'"]


def test_shacl_compile_fuzz_never_crashes():
    """Random small shapes documents either compile or raise ParseRdfError
    — no other exception class ever escapes the compiler."""
    import random

    from breg_dcat_harvester_spark.sources.rdf_parse import ParseRdfError

    rng = random.Random(11)
    preds = ["sh:path ex:p", "sh:minCount 1", "sh:maxCount 2",
             "sh:minCount \"x\"", "sh:nodeKind sh:IRI",
             "sh:nodeKind ex:Weird", "sh:datatype ex:dt",
             "sh:pattern \"^a\"", "sh:class ex:C", "sh:hasValue ex:v",
             "sh:node ex:N", "sh:in (ex:a ex:b)", "sh:minLength 3",
             "sh:severity sh:Warning", "sh:path ex:q"]
    for _ in range(150):
        props = []
        for _ in range(rng.randrange(1, 4)):
            body = " ; ".join(rng.sample(preds, rng.randrange(1, 5)))
            props.append(f"[ {body} ]")
        ttl = (
            "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
            "@prefix ex: <http://ex/> .\n"
            "ex:N sh:or ( [ sh:class ex:C1 ] [ sh:class ex:C2 ] ) .\n"
            f"ex:S a sh:NodeShape ; sh:targetClass ex:T ;\n"
            f"  sh:property {', '.join(props)} .\n"
        )
        try:
            c = load_shacl_shapes(ttl)
            # every property shape lands SOMEWHERE: compiled, recovered,
            # or skipped — never silently vanishes (unless pathless)
            assert isinstance(c.skipped, tuple)
        except ParseRdfError:
            pass


def test_incremental_equals_batch_restricted(spark):
    """full_shapes_report_incremental(base, shard) must equal the
    from-scratch full-graph report restricted to the shard's subjects —
    including a class check whose value references an UNTOUCHED base
    entity (the graph-wide type sliver)."""
    from breg_dcat_harvester_spark.operators.validate import (
        full_shapes_report_incremental,
    )

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix dct: <http://purl.org/dc/terms/> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ;
    sh:property [
        sh:path dct:title ; sh:minCount 1 ; sh:maxCount 1 ;
        sh:severity sh:Violation
    ], [
        sh:path dct:publisher ; sh:class ex:Agent ; sh:severity sh:Violation
    ] ;
    sh:targetClass ex:Thing .
"""
    c = load_shacl_shapes(ttl)
    XSD = "http://www.w3.org/2001/XMLSchema#"
    base = _edges(spark, [
        # b1: base-resident, VALID; must never re-surface
        ("b1", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("b1", DCT + "title", "ok", "literal", None, XSD + "string"),
        # a1 is a typed base agent an arriving entity will point at
        ("a1", RDF_TYPE, "http://ex/Agent", "uri", None, None),
        # t3 has one base title; the shard adds a second -> maxCount needs
        # base+shard edges of the touched subject
        ("t3", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("t3", DCT + "title", "one", "literal", None, XSD + "string"),
    ])
    shard = _edges(spark, [
        # t2 arrives: publisher a1 is typed in BASE only (ok), but missing
        # title (minCount fires)
        ("t2", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("t2", DCT + "publisher", "a1", "uri", None, None),
        # t4 arrives with an untyped publisher (class fires)
        ("t4", RDF_TYPE, "http://ex/Thing", "uri", None, None),
        ("t4", DCT + "title", "t", "literal", None, XSD + "string"),
        ("t4", DCT + "publisher", "nobody", "uri", None, None),
        # second title for the base-resident t3 (maxCount fires)
        ("t3", DCT + "title", "two", "literal", None, XSD + "string"),
    ])
    inc = full_shapes_report_incremental(base, shard, c)
    got = {(r["subj"], r["check_kind"]) for r in inc.collect()}
    assert got == {("t2", "minCount"), ("t4", "class"), ("t3", "maxCount")}
    # ≡ batch restricted to touched subjects
    full = full_shapes_report(base.unionByName(shard).dropDuplicates(), c)
    touched = {r["subj"] for r in shard.select("subj").distinct().collect()}
    want = {
        (r["subj"], r["check_kind"])
        for r in full.collect() if r["subj"] in touched
    }
    assert got == want


def test_cyclic_rdf_list_and_unknown_constraints_refused():
    """Malformed sh:or lists terminate as a skipped entry (never a hang);
    validating constraint kinds outside the subset land in skipped
    (never silent under-validation)."""
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex: <http://ex/> .
ex:L rdf:first ex:a ; rdf:rest ex:L .
ex:N sh:or ex:L .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:node ex:N ; sh:severity sh:Violation ],
              [ sh:path ex:q ; sh:in (ex:a ex:b) ; sh:severity sh:Violation ],
              [ sh:path ex:r ; sh:minLength 4 ; sh:severity sh:Violation ] .
"""
    c = load_shacl_shapes(ttl)
    reasons = [s[2] for s in c.skipped]
    assert any("sub-shape" in r for r in reasons)
    assert any("unsupported constraint in" in r for r in reasons)
    assert any("unsupported constraint minLength" in r for r in reasons)
    # a bogus nodeKind IN the SHACL namespace still refuses (no recovery)
    bogus = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:nodeKind sh:Nonsense ;
                sh:severity sh:Violation ] .
"""
    cb = load_shacl_shapes(bogus)
    assert len(cb.skipped) == 1 and "nodeKind" in cb.skipped[0][2]
    # a non-SHACL nodeKind that no shape of the document targets (a typo'd
    # or foreign value) refuses too: no class constraint is invented
    weird = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:nodeKind ex:Weird ;
                sh:severity sh:Violation ] .
"""
    cw = load_shacl_shapes(weird)
    assert [s[2] for s in cw.skipped] == ["unsupported nodeKind http://ex/Weird"]
    assert cw.klass == () and cw.recovered == ()
    # ...while one naming a class the same document targets is recovered as
    # a class constraint (the reference file's eli:LegalResource row)
    targeted = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:nodeKind ex:U ;
                sh:severity sh:Violation ] .
ex:SU a sh:NodeShape ; sh:targetClass ex:U .
"""
    ct = load_shacl_shapes(targeted)
    assert ct.skipped == ()
    assert [(k.target_class, k.path, k.classes) for k in ct.klass] == [
        ("http://ex/T", "http://ex/p", ("http://ex/U",))
    ]
    assert [r[2] for r in ct.recovered] == ["nodeKind http://ex/U -> class constraint"]
