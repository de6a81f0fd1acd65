"""Real RDF document ingestion (sources/rdf_parse.py).

Parity anchor: the reference's own sample documents
(/root/reference/api/breg_harvester/ontology/sample-01.xml, sample-02.ttl —
harvest.py:51-53, README.md:104-122) must parse byte-for-byte into the
hand-transcribed golden fixture, and the 3-source harvest must reproduce the
README's ``num_triples: 33``.
"""

import os

import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators.merge import merge_triples, num_triples
from breg_dcat_harvester_spark.sources.rdf_parse import (
    ParseRdfError,
    parse_rdf_docs,
    parse_rdf_text,
    read_rdf_documents,
)

from breg_dcat_harvester_spark import fixtures as fx

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_XML = "/root/reference/api/breg_harvester/ontology/sample-01.xml"
REF_TTL = "/root/reference/api/breg_harvester/ontology/sample-02.ttl"

# data/ is gitignored — fixtures.py regenerates both deterministically.
# Lazy (called inside tests, not at import): merely COLLECTING this file
# must not write under data/ when the tests are skipped or deselected.
def _our_jsonld() -> str:
    return fx.ensure_sample_jsonld()

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_XML), reason="reference repo not mounted"
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def _golden_set():
    import duckdb

    return {
        tuple(r)
        for r in duckdb.query(
            "SELECT subj, pred, obj, obj_kind, lang, dtype FROM read_parquet("
            f"'{fx.ensure_rdf_golden()}')"
        ).fetchall()
    }


@needs_reference
def test_sample_files_match_hand_golden():
    got = set()
    for path, fmt in ((REF_XML, "xml"), (REF_TTL, "turtle"), (_our_jsonld(), "json-ld")):
        triples = parse_rdf_text(open(path).read(), fmt, base="file://" + path,
                                 doc_id=path)
        assert len(triples) == 11, (path, len(triples))
        got.update(triples)
    assert got == _golden_set()


@needs_reference
def test_rdf_doc_harvest_num_triples_33(spark):
    """README.md:104-122 parity: the 3-source harvest yields 33 triples."""
    docs = read_rdf_documents(spark, [REF_XML, REF_TTL, _our_jsonld()])
    edges = parse_rdf_docs(docs, id_col="source")  # sniff_format routing
    assert num_triples(merge_triples(edges)) == 33
    # the XML quirk survives the Spark path: rdf:resource="dcat:Catalog" is
    # an absolute URI with scheme 'dcat' and passes through verbatim
    types = {
        r.obj
        for r in edges.filter(F.col("pred") == RDF_TYPE).select("obj").collect()
    }
    assert "dcat:Catalog" in types and "http://www.w3.org/ns/dcat#Catalog" in types


def test_ntriples_forms():
    text = "\n".join(
        [
            "<http://ex/s> <http://ex/p> <http://ex/o> .",
            '<http://ex/s> <http://ex/label> "hi there" .',
            '<http://ex/s> <http://ex/label> "bonjour"@fr .',
            '<http://ex/s> <http://ex/n> "4"^^<http://www.w3.org/2001/XMLSchema#integer> .',
            "# a comment",
            '_:b1 <http://ex/p> _:b2 .',
            '<http://ex/esc> <http://ex/p> "line\\nbreak\\t\\"q\\" \\u00e9" .',
        ]
    )
    ts = parse_rdf_text(text, "nt", base="http://ex/", doc_id="d1")
    assert ("http://ex/s", "http://ex/p", "http://ex/o", "uri", None, None) in ts
    assert ("http://ex/s", "http://ex/label", "hi there", "literal", None, XSD_STRING) in ts
    assert ("http://ex/s", "http://ex/label", "bonjour", "literal", "fr", XSD_STRING) in ts
    assert ("http://ex/s", "http://ex/n", "4", "literal", None,
            "http://www.w3.org/2001/XMLSchema#integer") in ts
    esc = [t for t in ts if t[0] == "http://ex/esc"][0]
    assert esc[2] == 'line\nbreak\t"q" é'
    bn = [t for t in ts if t[1] == "http://ex/p" and t[0].startswith("urn:skolem:")]
    assert len(bn) == 1 and bn[0][2].startswith("urn:skolem:")
    # deterministic skolemization: same doc -> same URIs
    assert parse_rdf_text(text, "nt", base="http://ex/", doc_id="d1") == ts


def test_turtle_features():
    text = """
@base <http://ex/> .
@prefix ex: <http://ex/ns#> .
PREFIX dc: <http://purl.org/dc/terms/>
<thing> a ex:Widget, ex:Gadget ;
  dc:title "A title"@en ;
  ex:count 42 ;
  ex:size "5"^^<http://www.w3.org/2001/XMLSchema#int> ;
  ex:ratio 3.14 ;
  ex:flag true ;
  ex:rel <other>, ex:third ;  # trailing comment
  .
_:b ex:refs <thing> .
"""
    ts = set(parse_rdf_text(text, "turtle", base="http://ignored/", doc_id="d"))
    s = "http://ex/thing"
    assert (s, RDF_TYPE, "http://ex/ns#Widget", "uri", None, None) in ts
    assert (s, RDF_TYPE, "http://ex/ns#Gadget", "uri", None, None) in ts
    assert (s, "http://purl.org/dc/terms/title", "A title", "literal", "en", XSD_STRING) in ts
    assert (s, "http://ex/ns#count", "42", "literal", None,
            "http://www.w3.org/2001/XMLSchema#integer") in ts
    assert (s, "http://ex/ns#size", "5", "literal", None,
            "http://www.w3.org/2001/XMLSchema#int") in ts
    assert (s, "http://ex/ns#ratio", "3.14", "literal", None,
            "http://www.w3.org/2001/XMLSchema#decimal") in ts
    assert (s, "http://ex/ns#flag", "true", "literal", None,
            "http://www.w3.org/2001/XMLSchema#boolean") in ts
    assert (s, "http://ex/ns#rel", "http://ex/other", "uri", None, None) in ts
    assert (s, "http://ex/ns#rel", "http://ex/ns#third", "uri", None, None) in ts
    assert any(t[0].startswith("urn:skolem:") and t[2] == s for t in ts)


def test_turtle_subset_errors():
    with pytest.raises(ParseRdfError, match="prefix"):
        parse_rdf_text("<http://s> nope:p <http://o> .", "turtle", "", "d")
    with pytest.raises(ParseRdfError, match="expected"):
        parse_rdf_text("@prefix ex: <http://ex/> . ex:s ex:p ex:o ", "turtle", "", "d")


def test_turtle_anonymous_bnode():
    ts = parse_rdf_text(
        "@prefix ex: <http://ex/> . ex:s ex:p [ ex:q ex:r ; ex:n 4 ] .",
        "turtle", "", "d",
    )
    outer = [t for t in ts if t[0] == "http://ex/s"]
    assert len(outer) == 1
    bnode = outer[0][2]
    assert bnode.startswith("urn:skolem:")
    inner = {t[1]: t[2] for t in ts if t[0] == bnode}
    assert inner["http://ex/q"] == "http://ex/r"
    assert inner["http://ex/n"] == "4"
    # determinism: same doc -> same skolem labels
    assert ts == parse_rdf_text(
        "@prefix ex: <http://ex/> . ex:s ex:p [ ex:q ex:r ; ex:n 4 ] .",
        "turtle", "", "d",
    )


def test_bnode_label_namespaces_never_conflate():
    # a user-written _:genid1 plus an anonymous [ ] in the same document
    # must stay TWO distinct nodes (rdflib keeps them distinct; the old
    # shared label namespace silently merged them)
    ts = parse_rdf_text(
        "@prefix ex: <http://ex/> . _:genid1 ex:p ex:a . ex:s ex:q [ ex:r ex:b ] .",
        "turtle", "", "d",
    )
    labeled = {t[0] for t in ts if t[1] == "http://ex/p"}
    anon = {t[2] for t in ts if t[0] == "http://ex/s"}
    assert len(labeled) == 1 and len(anon) == 1
    assert labeled.isdisjoint(anon)
    # the reserved namespace is unreachable from user labels: '|' refused
    with pytest.raises(ParseRdfError, match=r"\|"):
        parse_rdf_text("_:a|b <http://ex/p> <http://ex/o> .", "nt", "", "d")


def test_turtle_anonymous_subject_statement():
    ts = parse_rdf_text(
        "@prefix ex: <http://ex/> . [ ex:q ex:r ] .", "turtle", "", "d"
    )
    assert len(ts) == 1 and ts[0][0].startswith("urn:skolem:")


def test_turtle_collection():
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    ts = parse_rdf_text(
        "@prefix ex: <http://ex/> . ex:s ex:list (ex:a ex:b) .",
        "turtle", "", "d",
    )
    head = [t for t in ts if t[1] == "http://ex/list"][0][2]
    firsts = {t[0]: t[2] for t in ts if t[1] == RDF + "first"}
    rests = {t[0]: t[2] for t in ts if t[1] == RDF + "rest"}
    assert firsts[head] == "http://ex/a"
    assert firsts[rests[head]] == "http://ex/b"
    assert rests[rests[head]] == RDF + "nil"
    # empty collection -> rdf:nil directly
    ts2 = parse_rdf_text(
        "@prefix ex: <http://ex/> . ex:s ex:list () .", "turtle", "", "d"
    )
    assert ts2 == [("http://ex/s", "http://ex/list", RDF + "nil", "uri", None, None)]


def test_rdfxml_features():
    text = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex/ns#" xml:lang="en">
  <ex:Widget rdf:about="http://ex/w1" ex:shortcut="attr literal">
    <ex:title>Widget one</ex:title>
    <ex:title xml:lang="fr">Widget un</ex:title>
    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">5</ex:size>
    <ex:part>
      <rdf:Description rdf:about="http://ex/p1">
        <ex:title>Part</ex:title>
      </rdf:Description>
    </ex:part>
    <ex:rel rdf:resource="http://ex/w2"/>
  </ex:Widget>
</rdf:RDF>"""
    ts = set(parse_rdf_text(text, "xml", base="http://base/", doc_id="d"))
    w = "http://ex/w1"
    assert (w, RDF_TYPE, "http://ex/ns#Widget", "uri", None, None) in ts
    assert (w, "http://ex/ns#shortcut", "attr literal", "literal", "en", XSD_STRING) in ts
    assert (w, "http://ex/ns#title", "Widget one", "literal", "en", XSD_STRING) in ts
    assert (w, "http://ex/ns#title", "Widget un", "literal", "fr", XSD_STRING) in ts
    assert (w, "http://ex/ns#size", "5", "literal", None,
            "http://www.w3.org/2001/XMLSchema#integer") in ts
    assert (w, "http://ex/ns#part", "http://ex/p1", "uri", None, None) in ts
    assert ("http://ex/p1", "http://ex/ns#title", "Part", "literal", "en", XSD_STRING) in ts
    assert (w, "http://ex/ns#rel", "http://ex/w2", "uri", None, None) in ts
    with pytest.raises(ParseRdfError, match="parseType"):
        parse_rdf_text(
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            ' xmlns:ex="http://ex/"><rdf:Description rdf:about="http://s">'
            '<ex:p rdf:parseType="Collection"/></rdf:Description></rdf:RDF>',
            "xml", "", "d",
        )


def test_jsonld_features():
    text = """{
  "@context": {"ex": "http://ex/ns#", "title": "http://purl.org/dc/terms/title"},
  "@id": "http://ex/a",
  "@type": ["ex:Widget"],
  "title": {"@value": "hola", "@language": "es"},
  "ex:n": 7,
  "ex:child": {"@id": "http://ex/b", "title": "child title"},
  "ex:tags": ["x", "y"]
}"""
    ts = set(parse_rdf_text(text, "json-ld", base="http://base/", doc_id="d"))
    a = "http://ex/a"
    assert (a, RDF_TYPE, "http://ex/ns#Widget", "uri", None, None) in ts
    assert (a, "http://purl.org/dc/terms/title", "hola", "literal", "es", XSD_STRING) in ts
    assert (a, "http://ex/ns#n", "7", "literal", None,
            "http://www.w3.org/2001/XMLSchema#integer") in ts
    assert (a, "http://ex/ns#child", "http://ex/b", "uri", None, None) in ts
    assert ("http://ex/b", "http://purl.org/dc/terms/title", "child title",
            "literal", None, XSD_STRING) in ts
    assert (a, "http://ex/ns#tags", "x", "literal", None, XSD_STRING) in ts
    assert (a, "http://ex/ns#tags", "y", "literal", None, XSD_STRING) in ts


def test_parse_rdf_docs_sniff_and_skip(spark):
    rows = [
        ("d1", "http://src/1", '@prefix ex: <http://ex/> . ex:a ex:p ex:b .'),
        ("d2", "http://src/2", "<http://ex/a> <http://ex/p> <http://ex/c> ."),
        ("d3", "http://src/3", "this is not rdf at all"),
        ("d4", "http://src/4", '{"@context": {"ex": "http://ex/"}, "@id": "ex:a", "ex:q": "v"}'),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, content string")
    out = parse_rdf_docs(docs, on_error="skip").collect()
    got = {(r.subj, r.pred, r.obj) for r in out}
    assert got == {
        ("http://ex/a", "http://ex/p", "http://ex/b"),
        ("http://ex/a", "http://ex/p", "http://ex/c"),
        ("http://ex/a", "http://ex/q", "v"),
    }
    # lineage carries the source document
    assert {r.conv_id for r in out} == {"http://src/1", "http://src/2", "http://src/4"}
    with pytest.raises(Exception, match="ParseRdfError|unrecognized"):
        parse_rdf_docs(docs, on_error="raise").collect()


def test_parse_rdf_docs_straggler_guard(spark):
    """S5: an oversized document fails fast (or skips) instead of pinning an
    executor core on one pathological blob."""
    rows = [
        ("ok", "http://src/ok", "<http://ex/a> <http://ex/p> <http://ex/b> ."),
        ("big", "http://src/big",
         "<http://ex/a> <http://ex/p> <http://ex/" + "x" * 4000 + "> ."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, content string")
    out = parse_rdf_docs(docs, on_error="skip", max_doc_chars=1000).collect()
    assert {r.conv_id for r in out} == {"http://src/ok"}
    with pytest.raises(Exception, match="max_doc_chars"):
        parse_rdf_docs(docs, on_error="raise", max_doc_chars=1000).collect()


@needs_reference
@pytest.mark.slow
def test_full_harvest_plan_over_rdf_docs(spark, tmp_path):
    """The reference's literal harvest shape: RDF documents through the SAME
    staged pipeline (merge/validate/link/cc/materialize + resume)."""
    from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest

    cfg = HarvestConfig(out_dir=str(tmp_path / "kg"), source_kind="rdf_docs")
    res = run_harvest(spark, [REF_XML, REF_TTL, _our_jsonld()], cfg, run_id="rdf-a")
    assert res["num_triples"] == 33  # README.md:104-122 parity
    assert [s["stage"] for s in res["stages"]] == [
        "edges_raw", "triples", "valid_triples", "links", "cc_labels",
        "edges", "nodes", "lineage",
    ]
    # resume is a no-op
    res2 = run_harvest(spark, [REF_XML, REF_TTL, _our_jsonld()], cfg, run_id="rdf-a")
    assert res2["num_triples"] == 33 and res2["stages"] == []


def test_ntriples_roundtrip_through_writer(spark, small_transcripts):
    """Engine-written N-Triples re-ingest to the identical triple set."""
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.sources.rdf_io import to_ntriples

    edges = merge_triples(extract_edges(small_transcripts))
    lines = [r.ntriple for r in to_ntriples(edges).collect()]
    ts = parse_rdf_text("\n".join(lines), "nt", base="", doc_id="rt")
    want = {
        (r.subj, r.pred, r.obj, r.obj_kind, r.lang, r.dtype)
        for r in edges.select("subj", "pred", "obj", "obj_kind", "lang", "dtype").collect()
    }
    assert set(ts) == want


def test_jsonld_array_context_term_defs_vocab():
    doc = """
{"@context": [
   {"dct": "http://purl.org/dc/terms/"},
   {"@vocab": "http://ex/v#", "@base": "http://ex/base/",
    "homepage": {"@id": "http://xmlns.com/foaf/0.1/homepage", "@type": "@id"},
    "issued": {"@id": "dct:issued",
               "@type": "http://www.w3.org/2001/XMLSchema#date"},
    "label": {"@id": "dct:title", "@language": "en"}}],
 "@id": "thing1",
 "@type": "Widget",
 "homepage": "http://ex.org/home",
 "issued": "2020-01-02",
 "label": "hello",
 "plain": 4}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    s = "http://ex/base/thing1"
    assert (s, RDF_TYPE, "http://ex/v#Widget", "uri", None, None) in ts
    assert (s, "http://xmlns.com/foaf/0.1/homepage", "http://ex.org/home",
            "uri", None, None) in ts
    assert (s, "http://purl.org/dc/terms/issued", "2020-01-02", "literal",
            None, "http://www.w3.org/2001/XMLSchema#date") in ts
    assert (s, "http://purl.org/dc/terms/title", "hello", "literal",
            "en", XSD_STRING) in ts
    assert (s, "http://ex/v#plain", "4", "literal", None,
            "http://www.w3.org/2001/XMLSchema#integer") in ts


def test_jsonld_list_container():
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    doc = """
{"@context": {"authors": {"@id": "http://ex/authors", "@container": "@list"}},
 "@id": "http://ex/doc", "authors": ["a", "b"]}
"""
    ts = parse_rdf_text(doc, "json-ld", "", "d")
    head = [t for t in ts if t[1] == "http://ex/authors"][0][2]
    firsts = {t[0]: t[2] for t in ts if t[1] == RDF + "first"}
    rests = {t[0]: t[2] for t in ts if t[1] == RDF + "rest"}
    assert firsts[head] == "a"
    assert firsts[rests[head]] == "b"
    assert rests[rests[head]] == RDF + "nil"
    # explicit @list value object, empty -> rdf:nil
    doc2 = '{"@id": "http://ex/doc", "p": {"@list": []},\
 "@context": {"p": "http://ex/p"}}'
    ts2 = parse_rdf_text(doc2, "json-ld", "", "d")
    assert ts2 == [("http://ex/doc", "http://ex/p", RDF + "nil",
                    "uri", None, None)]


def test_jsonld_nested_nodes_and_refusals():
    doc = """
{"@context": {"ex": "http://ex/"},
 "@id": "ex:a", "ex:knows": {"@id": "ex:b", "ex:name": "B"}}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    assert ("http://ex/a", "http://ex/knows", "http://ex/b",
            "uri", None, None) in ts
    assert ("http://ex/b", "http://ex/name", "B", "literal",
            None, XSD_STRING) in ts
    with pytest.raises(ParseRdfError, match="remote"):
        parse_rdf_text('{"@context": "http://remote"}', "json-ld", "", "d")
    # @nest stays outside the profile
    with pytest.raises(ParseRdfError, match="@nest"):
        parse_rdf_text(
            '{"@context": {"t": {"@id": "http://x", "@nest": "n"}}}',
            "json-ld", "", "d",
        )


def test_jsonld_reverse_term_and_node_map():
    # term-level @reverse: "parentOf" emits (child, parent, me)
    doc = """
{"@context": {"ex": "http://ex/",
              "parentOf": {"@reverse": "ex:parent"}},
 "@id": "ex:me",
 "parentOf": [{"@id": "ex:kid1", "ex:name": "K"}, "ex:kid2"]}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    assert ("http://ex/kid1", "http://ex/parent", "http://ex/me",
            "uri", None, None) in ts
    assert ("http://ex/kid2", "http://ex/parent", "http://ex/me",
            "uri", None, None) in ts
    # the reversed node object's own properties still attach to IT
    assert ("http://ex/kid1", "http://ex/name", "K", "literal",
            None, XSD_STRING) in ts
    # node-level @reverse map
    doc2 = """
{"@context": {"ex": "http://ex/"},
 "@id": "ex:group",
 "@reverse": {"ex:memberOf": [{"@id": "ex:alice"}, {"@id": "ex:bob"}]}}
"""
    ts2 = set(parse_rdf_text(doc2, "json-ld", "", "d"))
    assert ("http://ex/alice", "http://ex/memberOf", "http://ex/group",
            "uri", None, None) in ts2
    assert ("http://ex/bob", "http://ex/memberOf", "http://ex/group",
            "uri", None, None) in ts2
    # a literal under @reverse is malformed -> loud refusal
    with pytest.raises(ParseRdfError, match="@reverse value"):
        parse_rdf_text(
            '{"@context": {"ex": "http://ex/"}, "@id": "ex:a",'
            ' "@reverse": {"ex:p": 4}}',
            "json-ld", "", "d",
        )
    # a @reverse-defined term INSIDE a node-level @reverse map
    # double-reverses: the edge is forward again (spec)
    doc3 = """
{"@context": {"ex": "http://ex/",
              "childOf": {"@reverse": "ex:parent"}},
 "@id": "ex:me",
 "@reverse": {"childOf": {"@id": "ex:kid"}}}
"""
    ts3 = set(parse_rdf_text(doc3, "json-ld", "", "d"))
    assert ("http://ex/me", "http://ex/parent", "http://ex/kid",
            "uri", None, None) in ts3
    # @reverse + @list/@index containers would silently mis-parse -> refuse
    with pytest.raises(ParseRdfError, match="cannot carry"):
        parse_rdf_text(
            '{"@context": {"t": {"@reverse": "http://x/p",'
            ' "@container": "@index"}}}',
            "json-ld", "", "d",
        )


def test_jsonld_scoped_and_embedded_contexts():
    # property-scoped context: term defs local to the value subtree
    doc = """
{"@context": {"ex": "http://ex/",
              "detail": {"@id": "ex:detail",
                         "@context": {"n": "http://local/n"}}},
 "@id": "ex:a",
 "detail": {"@id": "ex:b", "n": "inner"},
 "ex:q": {"@id": "ex:c"}}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    assert ("http://ex/b", "http://local/n", "inner", "literal",
            None, XSD_STRING) in ts
    # the scoped term does NOT leak to siblings
    doc_leak = doc.replace('"ex:q": {"@id": "ex:c"}',
                           '"ex:q": {"@id": "ex:c", "n": "oops"}')
    with pytest.raises(ParseRdfError, match="not in @context"):
        parse_rdf_text(doc_leak, "json-ld", "", "d")
    # node-embedded @context on a nested node object
    doc2 = """
{"@context": {"ex": "http://ex/"},
 "@id": "ex:a",
 "ex:p": {"@context": {"m": "http://m/"}, "@id": "ex:b", "m:k": "v"}}
"""
    ts2 = set(parse_rdf_text(doc2, "json-ld", "", "d"))
    assert ("http://ex/a", "http://ex/p", "http://ex/b",
            "uri", None, None) in ts2
    assert ("http://ex/b", "http://m/k", "v", "literal",
            None, XSD_STRING) in ts2
    # a null scoped context RESETS term definitions for the subtree: the
    # outer "name" term is gone inside the raw subtree
    doc3 = """
{"@context": {"ex": "http://ex/", "name": "http://ex/name",
              "raw": {"@id": "ex:raw", "@context": null}},
 "@id": "ex:a",
 "raw": {"@id": "http://plain/b", "name": "x"}}
"""
    with pytest.raises(ParseRdfError, match="not in @context"):
        parse_rdf_text(doc3, "json-ld", "", "d")


def test_jsonld_nest_transparency():
    # node-level @nest and a nest-aliased term are both transparent:
    # entries land on the ENCLOSING node
    doc = """
{"@context": {"ex": "http://ex/", "meta": "@nest"},
 "@id": "ex:a",
 "@nest": {"ex:p": "direct"},
 "meta": {"ex:q": "aliased", "@nest": {"ex:r": "nested-nest"}}}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    a = "http://ex/a"
    assert (a, "http://ex/p", "direct", "literal", None, XSD_STRING) in ts
    assert (a, "http://ex/q", "aliased", "literal", None, XSD_STRING) in ts
    assert (a, "http://ex/r", "nested-nest", "literal", None, XSD_STRING) in ts
    # @id inside a nest object is malformed
    with pytest.raises(ParseRdfError, match="@nest value"):
        parse_rdf_text(
            '{"@context": {"ex": "http://ex/"}, "@id": "ex:a",'
            ' "@nest": {"@id": "ex:b", "ex:p": "x"}}',
            "json-ld", "", "d",
        )
    # a nest alias used where an IRI is needed refuses
    with pytest.raises(ParseRdfError, match="@nest-aliased"):
        parse_rdf_text(
            '{"@context": {"ex": "http://ex/", "meta": "@nest"},'
            ' "@id": "ex:a", "@type": "meta"}',
            "json-ld", "", "d",
        )


def test_jsonld_index_container():
    # index keys organize JSON; they are dropped in RDF
    doc = """
{"@context": {"ex": "http://ex/",
              "byLang": {"@id": "ex:label", "@container": "@index"}},
 "@id": "ex:a",
 "@index": "ignored",
 "byLang": {"en": "hello", "fr": ["bonjour", "salut"]}}
"""
    ts = set(parse_rdf_text(doc, "json-ld", "", "d"))
    a = "http://ex/a"
    labels = {t[2] for t in ts if t[1] == "http://ex/label"}
    assert labels == {"hello", "bonjour", "salut"}
    # the index keys themselves appear nowhere
    assert not any("en" == t[2] or "fr" == t[2] for t in ts)
    with pytest.raises(ParseRdfError, match="@index container"):
        parse_rdf_text(
            '{"@context": {"ex": "http://ex/",'
            ' "b": {"@id": "ex:b", "@container": "@index"}},'
            ' "@id": "ex:a", "b": ["not-an-object"]}',
            "json-ld", "", "d",
        )


def test_jsonld_injectable_remote_context_map():
    ctxmap = {"https://ctx.example/v1": {"ex": "http://ex/",
                                         "name": "http://ex/name"}}
    doc = '{"@context": "https://ctx.example/v1", "@id": "ex:a", "name": "N"}'
    ts = set(parse_rdf_text(doc, "json-ld", "", "d", context_map=ctxmap))
    assert ("http://ex/a", "http://ex/name", "N", "literal",
            None, XSD_STRING) in ts
    # an unmapped URL still refuses loudly
    with pytest.raises(ParseRdfError, match="remote"):
        parse_rdf_text(
            '{"@context": "https://other.example/ctx"}', "json-ld", "", "d",
            context_map=ctxmap,
        )


def test_turtle_malformed_inputs_fail_as_parse_errors():
    """Adversarial/truncated documents must raise ParseRdfError — never an
    IndexError / RecursionError escaping the operator boundary."""
    cases = [
        "@prefix ex: <http://ex/> . ex:s ex:p [",          # EOF in bnode
        "@prefix ex: <http://ex/> . ex:s ex:p (",          # EOF in collection
        "@prefix ex: <http://ex/> . ex:s ex:p",            # EOF before object
        "@prefix ex: <http://ex/> . ex:s",                 # EOF before pred
        "@prefix ex: <http://ex/> . ex:s ex:p ex:o ; ex:q",  # EOF after ;
        '@prefix ex: <http://ex/> . ex:s ex:p "x"^^',      # EOF after ^^
        "@prefix ex: <http://ex/> . ex:s ex:p ex:o ,",     # EOF after ,
        "@prefix ex: <http://ex/> . ] ex:p ex:o .",        # stray ]
        "@prefix ex: <http://ex/> . ex:s ex:p "
        + "[ ex:q " * 300 + "ex:r" + " ]" * 300 + " .",    # 300-deep nesting
    ]
    for doc in cases:
        with pytest.raises(ParseRdfError):
            parse_rdf_text(doc, "turtle", "", "d")


def test_turtle_fuzz_random_token_soup_never_crashes():
    import random

    rng = random.Random(7)
    atoms = [
        "<http://ex/a>", "ex:b", "_:c", '"lit"', '"l"@en',
        '"4"^^<http://x>', "4", "3.1", "true", "a",
        "[", "]", "(", ")", ";", ",", ".", "@prefix", "@base",
    ]
    for _ in range(300):
        doc = "@prefix ex: <http://ex/> . " + " ".join(
            rng.choice(atoms) for _ in range(rng.randrange(1, 25))
        )
        try:
            parse_rdf_text(doc, "turtle", "", "d")
        except ParseRdfError:
            pass  # refusal is the contract; any other exception fails


def test_jsonld_nested_anon_node_is_connected():
    """Regression: the edge triple and the nested anonymous node's own
    properties must share ONE bnode (two subject_of calls used to mint two
    different labels, emitting the nested properties disconnected)."""
    ts = parse_rdf_text(
        '{"@context":{"ex":"http://ex/"},"@id":"ex:a",'
        '"ex:knows":{"ex:name":"B"}}',
        "json-ld", "", "d",
    )
    edge = [t for t in ts if t[1] == "http://ex/knows"][0]
    inner = [t for t in ts if t[1] == "http://ex/name"][0]
    assert edge[2] == inner[0]


def test_jsonld_malformed_inputs_fail_as_parse_errors():
    """Adversarial JSON-LD raises ParseRdfError — never RecursionError /
    AttributeError escaping the operator's on_error boundary."""
    cases = [
        '{"@context":{"a":"b","b":"a"},"@id":"http://ex/s","a":"x"}',
        '{"@context":{"a":"b:x","b":"a:y"},"@id":"http://ex/s","a:z":"1"}',
        '{"@graph": ["x"]}',
        '["foo"]',
        '{"@id": 5, "http://p": 1}',
        '{"@id": "http://s", "@type": [7]}',
        '{"@id":"http://s","http://p":' * 250 + '"x"' + "}" * 250,
        "[" * 40000 + "]" * 40000,
    ]
    for doc in cases:
        with pytest.raises(ParseRdfError):
            parse_rdf_text(doc, "json-ld", "", "d")


def test_jsonld_prefix_of_prefix_and_null_drop():
    ts = parse_rdf_text(
        '{"@context":{"b":"http://b/","ex":"b:ns-"},"@id":"http://s",'
        '"ex:x":"1"}', "json-ld", "", "d",
    )
    assert ts[0][1] == "http://b/ns-x"
    # JSON nulls are dropped per JSON-LD semantics, never a "None" literal
    assert parse_rdf_text(
        '{"@id":"http://s","http://p":{"@value":null},"http://q":null}',
        "json-ld", "", "d",
    ) == []
