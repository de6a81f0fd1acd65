"""N-Triples export + content-keyed partition lineage (operators/export.py).

The reference persists by serializing terms to N3 (store.py:19-25); ours
must produce RDF 1.1 N-Triples lines that rdf-parse back losslessly even
for adversarial literals, and the lineage rollup must be bit-identical at
any parallelism (the property that makes it a resume/consistency probe).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators.export import (
    partition_lineage,
    serialize_ntriples,
)

XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

NASTY = [
    'plain text',
    'has "quotes" inside',
    "back\\slash and \\\" mix",
    "line\nbreak and\rcarriage",
    'trailing backslash \\',
    '\\n literal-two-chars (must NOT collapse)',
    "tab\tstays raw per the grammar",
]


def _triples(spark):
    rows = [
        ("urn:s1", "urn:p", "http://example.org/o", "uri", None, None),
        ("urn:s1", "urn:p", "hello", "literal", "en", None),
        ("urn:s2", "urn:p", "42", "literal", None,
         "http://www.w3.org/2001/XMLSchema#integer"),
        ("urn:s2", "urn:p", "plain-xsd-string", "literal", None, XSD_STR),
    ] + [
        (f"urn:n{i}", "urn:p", txt, "literal", None, None)
        for i, txt in enumerate(NASTY)
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string"
    )


def _unescape(lex: str) -> str:
    out, i = [], 0
    while i < len(lex):
        c = lex[i]
        if c == "\\":
            nxt = lex[i + 1]
            out.append({"\\": "\\", '"': '"', "n": "\n", "r": "\r"}[nxt])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def test_ntriples_roundtrip_nasty_literals(spark):
    lines = {r.line for r in serialize_ntriples(_triples(spark)).collect()}
    assert all(ln.endswith(" .") for ln in lines)
    # every nasty literal survives an escape->unescape round trip
    lits = {}
    for ln in lines:
        if '> "' in ln:
            body = ln.split("> ", 2)[2]
            lex = body[1: body.rfind('"')]
            lits[_unescape(lex)] = ln
    for txt in NASTY:
        assert txt in lits, f"missing literal {txt!r}"
        # the raw forbidden code points never appear unescaped
        payload = lits[txt]
        assert "\n" not in payload and "\r" not in payload
    # URI object and typed/tagged literals keep their term syntax
    assert "<urn:s1> <urn:p> <http://example.org/o> ." in lines
    assert '<urn:s1> <urn:p> "hello"@en .' in lines
    assert (
        '<urn:s2> <urn:p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .'
        in lines
    )
    # xsd:string stays plain (N-Triples canonical form)
    assert '<urn:s2> <urn:p> "plain-xsd-string" .' in lines


def test_ntriples_is_map_only(spark):
    plan = serialize_ntriples(_triples(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_partition_lineage_parallelism_invariant(spark, golden_df):
    from breg_dcat_harvester_spark.operators.extract import extract_edges

    edges = extract_edges(golden_df)
    a = partition_lineage(edges.repartition(1)).collect()
    b = partition_lineage(edges.repartition(13)).collect()
    key = lambda r: r.bucket  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    assert sum(r.n_edges for r in a) == edges.count()
    # buckets are content-keyed: every bucket id within range
    assert all(0 <= r.bucket < 64 for r in a)


def test_turtle_blocks_group_and_compact(spark):
    from breg_dcat_harvester_spark.operators.export import serialize_turtle

    rows = [
        ("urn:s1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://www.w3.org/ns/dcat#Dataset", "uri", None, None),
        ("urn:s1", "http://purl.org/dc/terms/title", "T1", "literal", "en", None),
        ("urn:s1", "http://purl.org/dc/terms/title", "T0", "literal", "de", None),
        ("urn:s1", "http://www.w3.org/ns/dcat#theme",
         "http://example.org/theme/1", "uri", None, None),
        ("urn:s2", "urn:odd pred", "v", "literal", None, None),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string"
    )
    blocks = {r.subj: r.block for r in serialize_turtle(df).collect()}
    b1 = blocks["urn:s1"]
    # rdf:type -> a; known namespaces compact; unknown URI stays <...>
    assert b1.startswith("<urn:s1> ")
    assert "a dcat:Dataset" in b1
    assert 'dct:title "T0"@de, "T1"@en' in b1  # object list, sorted
    assert "dcat:theme <http://example.org/theme/1>" in b1
    assert b1.count(";") == 2 and b1.endswith(" .")
    # a URI that is not PN_LOCAL-safe is NOT compacted
    assert blocks["urn:s2"] == '<urn:s2> <urn:odd pred> "v" .'


def test_turtle_single_exchange(spark):
    from breg_dcat_harvester_spark.operators.export import serialize_turtle

    plan = (
        serialize_turtle(_triples(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # ONE subj hash-agg, nothing else


def test_turtle_write_headers_every_part(spark, tmp_path):
    import glob as _glob

    from breg_dcat_harvester_spark.operators.export import (
        turtle_header,
        write_turtle,
    )

    out = str(tmp_path / "ttl")
    write_turtle(_triples(spark).repartition(3), out)
    parts = sorted(_glob.glob(out + "/part-*"))
    assert parts
    for p in parts:
        txt = open(p).read()
        if txt.strip():  # every non-empty part opens with the prefix header
            assert txt.startswith("@prefix rdf:")
    # concatenation parses as one document: every @prefix line is legal
    whole = "".join(open(p).read() for p in parts)
    assert whole.count("@prefix rdf:") >= 1
    assert turtle_header().splitlines()[0] in whole


# --- full serialize -> parse round trips (export.py vs rdf_parse.py) -----


def _graph_rows():
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        ("http://ex/s1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://ex/T", "uri", None, None),
        ("http://ex/s1", "http://ex/p", "http://ex/o", "uri", None, None),
        ("http://ex/s1", "http://ex/n", "42", "literal", None, XSD_INT),
        ("urn:skolem:abc123", "http://ex/p", "http://ex/s1", "uri", None, None),
    ]
    for i, lit in enumerate(NASTY):
        rows.append(
            ("http://ex/s2", f"http://ex/lit{i}", lit, "literal",
             "en" if i % 2 else None, XSD_STR)
        )
    return rows


def test_turtle_serialize_parse_roundtrip(spark):
    """serialize_turtle output parses back through OUR recursive-descent
    Turtle parser into the exact same triple set — export and ingest stay
    mutually consistent even for adversarial literals."""
    from breg_dcat_harvester_spark.operators.export import (
        serialize_turtle,
        turtle_header,
    )
    from breg_dcat_harvester_spark.sources.rdf_parse import parse_turtle_doc

    graph = spark.createDataFrame(
        _graph_rows(),
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    doc = turtle_header() + "\n" + "\n".join(
        r.block for r in serialize_turtle(graph).collect()
    )
    got = set(parse_turtle_doc(doc, "", "rt"))
    assert got == {tuple(r) for r in graph.collect()}


def test_ntriples_serialize_parse_roundtrip(spark):
    from breg_dcat_harvester_spark.sources.rdf_parse import parse_ntriples_doc

    graph = spark.createDataFrame(
        _graph_rows(),
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    text = "\n".join(r.line for r in serialize_ntriples(graph).collect())
    got = set(parse_ntriples_doc(text, "", "rt"))
    assert got == {tuple(r) for r in graph.collect()}


def test_corpus_graph_roundtrips_both_formats(spark, small_transcripts):
    """The real extracted graph (1000-turn synthetic corpus) survives both
    export->parse round trips with zero symmetric difference."""
    from breg_dcat_harvester_spark.operators.export import (
        serialize_turtle,
        turtle_header,
    )
    from breg_dcat_harvester_spark.operators.extract import extract_edges
    from breg_dcat_harvester_spark.operators.merge import merge_triples
    from breg_dcat_harvester_spark.sources.rdf_parse import (
        parse_ntriples_doc,
        parse_turtle_doc,
    )

    graph = merge_triples(extract_edges(small_transcripts)).select(
        "subj", "pred", "obj", "obj_kind", "lang", "dtype"
    ).cache()
    want = {tuple(r) for r in graph.collect()}
    doc = turtle_header() + "\n" + "\n".join(
        r.block for r in serialize_turtle(graph).collect()
    )
    assert set(parse_turtle_doc(doc, "", "rt")) == want
    text = "\n".join(r.line for r in serialize_ntriples(graph).collect())
    assert set(parse_ntriples_doc(text, "", "rt")) == want
