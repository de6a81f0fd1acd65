"""Real RDF document ingestion: per-document parsers -> edges rows.

The reference fetches RDF documents and parses them with rdflib in four
serializations (api/breg_harvester/models.py:9-27 DataTypes; harvest.py:51-53
``Graph().parse(format=...)``; browser.py:25,47-57 try-each-format).  This
module is the Spark-native ingest path for the same documents:

* pure-Python parsers (stdlib only — the sandbox has no rdflib) for
  N-Triples, a Turtle subset, an RDF/XML subset, and a minimal JSON-LD
  profile — enough to parse the reference's own sample documents
  (ontology/sample-01.xml, sample-02.ttl) byte-for-byte;
* ``parse_rdf_docs`` runs them under ``mapInPandas`` over a documents
  DataFrame (doc_id, source, content): Arrow-batched, embarrassingly
  parallel across documents, no driver involvement — at corpus scale each
  partition parses its documents independently and the output lands
  directly in the EDGES schema (lineage: conv_id=doc source, turn_idx=0).

Format routing uses sources/rdf_io.sniff_format (S4) — the same first-bytes
heuristic order as the reference's PARSE_TRY_FORMATS.

Parity quirks preserved deliberately (tested against the actual sample
files):
* rdf:resource / rdf:about values resolve against the base URI with
  ``urljoin`` — a value like ``dcat:Catalog`` parses as an absolute URI with
  scheme ``dcat`` and passes through VERBATIM (rdflib does the same; the
  reference's sample-01.xml relies on it, so its type URIs are literally
  ``dcat:Catalog`` while sample-02.ttl's are full URIs).
* plain literals carry the engine's xsd:string convention (sources/rdf_io.py
  parse_ntriples note); explicit ^^datatype wins.

Documented subset limits (raise ParseRdfError, never silently misparse):
RDF/XML parseType="Collection"/"Literal"; JSON-LD un-mapped remote
@context URLs (inject a context_map to pre-resolve), @protected /
@propagate / @json.  @reverse, scoped/embedded contexts, @nest, and
@list/@set/@index containers are all supported.  Turtle is
full recursive descent (anonymous ``[ ]`` property lists and ``( )``
collections included, with a nesting-depth cap).  Blank node labels
skolemize to ``urn:skolem:sha2(doc_id|bnode|label)`` —
content-deterministic like the transcript path (operators/extract.py);
anonymous nodes get deterministic per-document labels in parse order, in a
RESERVED ``|genid|<n>`` sub-namespace that user-written labels cannot
produce (``|`` is refused in labels), so ``_:genid1`` and an anonymous
``[ ]`` in the same document never conflate.
"""

from __future__ import annotations

import hashlib
import json
import re
import xml.etree.ElementTree as ET
from typing import Iterable, Iterator
from urllib.parse import urljoin

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD = "http://www.w3.org/2001/XMLSchema#"
XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"
SKOLEM_NS = "urn:skolem:"


class ParseRdfError(ValueError):
    pass


_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _resolve(base: str, iri: str) -> str:
    """Resolve against base, but pass ABSOLUTE IRIs through verbatim —
    ``urljoin`` would normalize away a trailing empty fragment ('#'), which
    namespace IRIs like ``http://ex/ns#`` depend on (and rdflib keeps
    absolute IRIs untouched, incl. the sample-01.xml ``dcat:Catalog``
    scheme quirk)."""
    return iri if _ABS_IRI.match(iri) else urljoin(base, iri)


def _skolem(doc_id: str, label: str) -> str:
    """Skolemize a USER-WRITTEN blank-node label.

    ``|`` is the hash-input delimiter, so a user label containing it could
    collide with the reserved anonymous-node namespace (``_skolem_anon``);
    no RDF surface syntax permits ``|`` in a blank-node label (Turtle/
    N-Triples PN_CHARS, RDF/XML rdf:nodeID NCName, JSON-LD ``_:`` ids by
    convention), so such a label is refused loudly, never conflated."""
    if "|" in label:
        raise ParseRdfError(f"blank node label may not contain '|': {label!r}")
    digest = hashlib.sha256(f"{doc_id}|bnode|{label}".encode()).hexdigest()
    return SKOLEM_NS + digest


def _skolem_anon(doc_id: str, n: int) -> str:
    """Skolemize the ``n``-th ANONYMOUS node of a document (parse order).

    Lives in a reserved sub-namespace (``|genid|<n>``) that ``_skolem``
    refuses to accept from user labels, so a document containing both
    ``_:genid1`` and an anonymous ``[ ]`` keeps the two nodes distinct —
    matching rdflib, which never conflates a fresh BNode with a labeled
    one."""
    digest = hashlib.sha256(f"{doc_id}|bnode||genid|{n}".encode()).hexdigest()
    return SKOLEM_NS + digest


# Triple tuple: (subj, pred, obj, obj_kind, lang, dtype)
Triple = tuple[str, str, str, str, str | None, str | None]


def _literal(lex: str, lang: str | None, dtype: str | None) -> Triple:
    # engine convention: literals carry xsd:string unless explicitly typed
    return ("", "", lex, "literal", lang, dtype or XSD_STRING)


# --------------------------------------------------------------------------
# N-Triples
# --------------------------------------------------------------------------

_NT_LINE = re.compile(
    r'^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+'
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^<[^>]*>)?)\s*\.\s*$'
)

_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        nxt = s[i + 1]
        if nxt in _ESCAPES:
            out.append(_ESCAPES[nxt])
            i += 2
        elif nxt == "u":
            out.append(chr(int(s[i + 2 : i + 6], 16)))
            i += 6
        elif nxt == "U":
            out.append(chr(int(s[i + 2 : i + 10], 16)))
            i += 10
        else:
            raise ParseRdfError(f"bad escape \\{nxt}")
    return "".join(out)


def parse_ntriples_doc(text: str, base: str, doc_id: str) -> Iterator[Triple]:
    for ln, line in enumerate(text.splitlines(), 1):
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        m = _NT_LINE.match(line)
        if not m:
            raise ParseRdfError(f"N-Triples line {ln} unparseable: {line[:80]!r}")
        s_tok, p_tok, o_tok = m.groups()
        subj = s_tok[1:-1] if s_tok.startswith("<") else _skolem(doc_id, s_tok[2:])
        pred = p_tok[1:-1]
        if o_tok.startswith("<"):
            yield (subj, pred, o_tok[1:-1], "uri", None, None)
        elif o_tok.startswith("_:"):
            yield (subj, pred, _skolem(doc_id, o_tok[2:]), "uri", None, None)
        else:
            endq = o_tok.rindex('"')
            lex = _unescape(o_tok[1:endq])
            rest = o_tok[endq + 1 :]
            lang = rest[1:] if rest.startswith("@") else None
            dtype = rest[3:-1] if rest.startswith("^^<") else None
            _, _, o, k, lg, dt = _literal(lex, lang, dtype)
            yield (subj, pred, o, k, lg, dt)


# --------------------------------------------------------------------------
# Turtle (subset)
# --------------------------------------------------------------------------

_TTL_TOKEN = re.compile(
    r"""
      (?P<comment>\#[^\n]*)
    | (?P<iri><[^<>"{}|^`\\\x00-\x20]*>)
    | (?P<literal>"""
    r'"""(?:[^"\\]|\\.|"(?!""))*"""'
    r"""|"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<prefix_directive>@prefix|@base|(?i:PREFIX|BASE)(?=\s))
    | (?P<langtag>@[a-zA-Z][a-zA-Z0-9-]*)
    | (?P<dtype_sep>\^\^)
    | (?P<bnode>_:[A-Za-z0-9_][A-Za-z0-9_.-]*)
    | (?P<pname>(?:[A-Za-z][\w.-]*)?:(?:[\w]|%[0-9A-Fa-f]{2}|\.(?=[\w.-])|-)*)
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<kw>\b(?:a|true|false)\b)
    | (?P<punct>[;,.\[\]()])
    | (?P<ws>\s+)
    """,
    re.X,
)


def _ttl_tokens(text: str):
    pos = 0
    while pos < len(text):
        m = _TTL_TOKEN.match(text, pos)
        if not m:
            raise ParseRdfError(f"turtle: unexpected input at {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        yield kind, m.group()


def parse_turtle_doc(text: str, base: str, doc_id: str) -> Iterator[Triple]:
    """Recursive-descent Turtle parser: prefixed names, literals with
    lang/datatype, labeled AND anonymous blank nodes (``[ ... ]`` property
    lists), and RDF collections ``( ... )`` (rdf:first/rest/nil chains) —
    the full surface used by the reference's SHACL shapes file
    (``ontology/BRegDCAT-AP_shacl_shapes_2.00.ttl``, e.g. the ``sh:or``
    list-of-bnodes at lines 899-921).  Anonymous nodes get deterministic
    per-document skolem labels (reserved ``|genid|<n>`` namespace, parse
    order), so two parses of the same document are byte-identical and a
    labeled ``_:genid1`` never collides with an anonymous node."""
    prefixes: dict[str, str] = {}
    cur_base = base
    genid = 0

    def term(kind: str, tok: str):
        """-> (value, obj_kind, lang, dtype) for a non-literal-suffix token."""
        if kind == "iri":
            return (_resolve(cur_base, tok[1:-1]), "uri", None, None)
        if kind == "pname":
            p, _, local = tok.partition(":")
            if p not in prefixes:
                raise ParseRdfError(f"turtle: undefined prefix {p!r}:")
            return (prefixes[p] + local, "uri", None, None)
        if kind == "bnode":
            return (_skolem(doc_id, tok[2:]), "uri", None, None)
        if kind == "kw":
            if tok == "a":
                return (RDF_NS + "type", "uri", None, None)
            return (tok, "literal", None, XSD + "boolean")
        if kind == "num":
            dt = "integer" if re.fullmatch(r"[+-]?\d+", tok) else (
                "double" if "e" in tok.lower() else "decimal"
            )
            return (tok, "literal", None, XSD + dt)
        raise ParseRdfError(f"turtle: unexpected token {tok!r} as term")

    def fresh_bnode() -> str:
        nonlocal genid
        genid += 1
        return _skolem_anon(doc_id, genid)

    toks = list(_ttl_tokens(text))
    i = 0
    n = len(toks)
    out: list[Triple] = []
    depth = 0
    _MAX_DEPTH = 200  # adversarial [[[[... must fail as a parse error,
    # never a Python RecursionError escaping the operator boundary

    def tk(j):
        if j >= n:
            raise ParseRdfError("turtle: unexpected end of input")
        return toks[j]

    def lit_at(j: int):
        """Consume a literal (with optional @lang / ^^dtype) at j."""
        tok = tk(j)[1]
        if tok.startswith('"""'):
            lex = _unescape(tok[3:-3])
        else:
            lex = _unescape(tok[1:-1])
        j += 1
        lang = dtype = None
        if j < n and toks[j][0] == "langtag":
            lang = toks[j][1][1:]
            j += 1
        elif j < n and toks[j][0] == "dtype_sep":
            if tk(j + 1)[0] not in ("iri", "pname"):
                raise ParseRdfError("turtle: datatype must be an IRI")
            dtype = term(*tk(j + 1))[0]
            j += 2
        _, _, o, k, lg, dt = _literal(lex, lang, dtype)
        return (o, k, lg, dt), j

    def parse_object():
        """Consume one object at ``i``; emits nested triples for anonymous
        bnodes / collections.  Returns (value, obj_kind, lang, dtype)."""
        nonlocal i, depth
        depth += 1
        if depth > _MAX_DEPTH:
            raise ParseRdfError(
                f"turtle: nesting deeper than {_MAX_DEPTH} levels"
            )
        try:
            return _parse_object_inner()
        finally:
            depth -= 1

    def _parse_object_inner():
        nonlocal i
        ok_, otok = tk(i)
        if ok_ == "literal":
            (o, k2, lg, dt), j = lit_at(i)
            i = j
            return (o, k2, lg, dt)
        if ok_ == "punct" and otok == "[":
            i += 1
            node = fresh_bnode()
            if tk(i) != ("punct", "]"):
                parse_pred_obj_list(node)
            if tk(i) != ("punct", "]"):
                raise ParseRdfError("turtle: expected ']'")
            i += 1
            return (node, "uri", None, None)
        if ok_ == "punct" and otok == "(":
            i += 1
            items = []
            while tk(i) != ("punct", ")"):
                items.append(parse_object())
            i += 1
            if not items:
                return (RDF_NS + "nil", "uri", None, None)
            heads = [fresh_bnode() for _ in items]
            for idx, (val, k2, lg, dt) in enumerate(items):
                out.append((heads[idx], RDF_NS + "first", val, k2, lg, dt))
                nxt = heads[idx + 1] if idx + 1 < len(items) else RDF_NS + "nil"
                out.append((heads[idx], RDF_NS + "rest", nxt, "uri", None, None))
            return (heads[0], "uri", None, None)
        if ok_ == "punct":
            raise ParseRdfError(f"turtle: unexpected {otok!r} as object")
        o, k2, lg, dt = term(ok_, otok)
        i += 1
        return (o, k2, lg, dt)

    def parse_pred_obj_list(subj: str):
        nonlocal i
        while True:  # predicate-object list
            pred = term(*tk(i))[0]
            i += 1
            while True:  # object list
                o, k2, lg, dt = parse_object()
                out.append((subj, pred, o, k2, lg, dt))
                if i < n and toks[i] == ("punct", ","):
                    i += 1
                    continue
                break
            if i < n and toks[i] == ("punct", ";"):
                i += 1
                # tolerate trailing ';' before '.' / ']'
                if tk(i) in (("punct", "."), ("punct", "]")):
                    break
                continue
            break

    while i < n:
        kind, tok = toks[i]
        # directives
        if kind == "prefix_directive":
            d = tok.lower().lstrip("@")
            if d == "prefix":
                pk, ptok = tk(i + 1)
                ik, itok = tk(i + 2)
                if pk != "pname" or ik != "iri":
                    raise ParseRdfError("turtle: malformed @prefix")
                prefixes[ptok[:-1] if ptok.endswith(":") else ptok.split(":")[0]] = _resolve(
                    cur_base, itok[1:-1]
                )
                i += 3
            else:  # base
                ik, itok = tk(i + 1)
                if ik != "iri":
                    raise ParseRdfError("turtle: malformed @base")
                cur_base = _resolve(cur_base, itok[1:-1])
                i += 2
            if tok.startswith("@"):
                if i >= n or toks[i] != ("punct", "."):
                    raise ParseRdfError("turtle: @directive missing '.'")
                i += 1
            yield from out
            out.clear()
            continue
        # statement: subject is a simple term, an anonymous bnode property
        # list, or a collection
        if kind == "punct" and tok == "[":
            i += 1
            subj = fresh_bnode()
            if tk(i) != ("punct", "]"):
                parse_pred_obj_list(subj)
            if tk(i) != ("punct", "]"):
                raise ParseRdfError("turtle: expected ']'")
            i += 1
            # '[ ...props ] .' with no outer predicates is a valid statement
            if i < n and toks[i] == ("punct", "."):
                i += 1
                yield from out
                out.clear()
                continue
        elif kind == "punct" and tok == "(":
            subj = parse_object()[0]
        elif kind == "punct":
            raise ParseRdfError(f"turtle: unexpected {tok!r} as subject")
        else:
            subj = term(kind, tok)[0]
            i += 1
        parse_pred_obj_list(subj)
        if i >= n or toks[i] != ("punct", "."):
            got = toks[i] if i < n else "end of input"
            raise ParseRdfError(f"turtle: expected '.', got {got!r}")
        i += 1
        yield from out
        out.clear()


# --------------------------------------------------------------------------
# RDF/XML (subset)
# --------------------------------------------------------------------------


def _split_tag(tag: str) -> str:
    if not tag.startswith("{"):
        raise ParseRdfError(f"rdf/xml: unnamespaced element {tag!r}")
    ns, local = tag[1:].split("}", 1)
    return ns + local


def parse_rdfxml_doc(text: str, base: str, doc_id: str) -> Iterator[Triple]:
    try:
        root = ET.fromstring(text)
    except ET.ParseError as ex:
        raise ParseRdfError(f"rdf/xml: {ex}") from ex
    out: list[Triple] = []
    counter = {"b": 0}

    def node_subject(el, lang: str | None) -> str:
        about = el.get(f"{{{RDF_NS}}}about")
        rid = el.get(f"{{{RDF_NS}}}ID")
        node_id = el.get(f"{{{RDF_NS}}}nodeID")
        if about is not None:
            subj = _resolve(base, about)
        elif rid is not None:
            subj = urljoin(base, "#" + rid)
        elif node_id is not None:
            subj = _skolem(doc_id, node_id)
        else:
            counter["b"] += 1
            subj = _skolem_anon(doc_id, counter["b"])
        tag = _split_tag(el.tag)
        if tag != RDF_NS + "Description":
            out.append((subj, RDF_NS + "type", tag, "uri", None, None))
        lang = el.get(XML_LANG, lang)
        # property ATTRIBUTES (non-rdf:, non-xml:) are literal shortcuts
        for attr, val in el.attrib.items():
            if attr.startswith(f"{{{RDF_NS}}}") or attr.startswith("{http://www.w3.org/XML/"):
                continue
            _, _, o, k, lg, dt = _literal(val, lang, None)
            out.append((subj, _split_tag(attr), o, k, lg, dt))
        for prop in el:
            pred = _split_tag(prop.tag)
            plang = prop.get(XML_LANG, lang)
            res = prop.get(f"{{{RDF_NS}}}resource")
            pnode = prop.get(f"{{{RDF_NS}}}nodeID")
            dtype = prop.get(f"{{{RDF_NS}}}datatype")
            ptype = prop.get(f"{{{RDF_NS}}}parseType")
            children = list(prop)
            if ptype is not None:
                raise ParseRdfError(f"rdf/xml subset: parseType={ptype!r} unsupported")
            if res is not None:
                out.append((subj, pred, _resolve(base, res), "uri", None, None))
            elif pnode is not None:
                out.append((subj, pred, _skolem(doc_id, pnode), "uri", None, None))
            elif children:
                child_subj = node_subject(children[0], plang)
                out.append((subj, pred, child_subj, "uri", None, None))
            else:
                # a datatyped literal carries no language tag (RDF spec)
                _, _, o, k, lg, dt = _literal(
                    prop.text or "", None if dtype else plang, dtype
                )
                out.append((subj, pred, o, k, lg, dt))
        return subj

    root_tag = _split_tag(root.tag)
    nodes = list(root) if root_tag == RDF_NS + "RDF" else [root]
    doc_lang = root.get(XML_LANG)
    for el in nodes:
        node_subject(el, doc_lang)
    return iter(out)


# --------------------------------------------------------------------------
# JSON-LD (declared profile)
# --------------------------------------------------------------------------
#
# Supported: @context as an object OR an array of objects (merged in
# order), term definitions as strings or {"@id", "@type" ("@id" or a
# datatype), "@language", "@container" ("@list"/"@set"/"@index"),
# "@reverse", "@context" (property-SCOPED context), "@nest" aliases},
# @vocab, @base, prefixed names, @graph, nested node objects (including
# node-embedded @context), node-level @reverse maps and @nest
# transparency, @value/@type/@language literals, @list arrays
# (rdf:first/rest/nil chains), @index containers (index keys dropped per
# spec), labeled and anonymous blank nodes.  Remote (string URL)
# contexts stay refused — no network I/O in a parser — but an injectable
# ``context_map`` lets callers/tests pre-resolve them.  Outside the
# profile — @protected, @propagate, @json — the parser refuses loudly
# rather than mis-parse.


class _JldCtx:
    __slots__ = ("terms", "vocab", "base", "context_map")

    def __init__(self, base: str, context_map: dict | None = None):
        self.terms: dict[str, dict] = {}
        self.vocab: str | None = None
        self.base = base
        self.context_map = context_map or {}

    def child(self, raw) -> "_JldCtx":
        """A copy with ``raw`` loaded on top — scoped/embedded contexts
        never mutate the outer scope."""
        c = _JldCtx(self.base, self.context_map)
        c.terms = dict(self.terms)
        c.vocab = self.vocab
        c.load(raw)
        return c

    def load(self, raw) -> None:
        parts = raw if isinstance(raw, list) else [raw]
        for part in parts:
            if part is None:
                self.terms, self.vocab = {}, None
                continue
            if isinstance(part, str):
                if part in self.context_map:
                    self.load(self.context_map[part])
                    continue
                raise ParseRdfError(
                    "json-ld profile: remote @context not supported "
                    f"(no entry for {part!r} in the injected context map)"
                )
            if not isinstance(part, dict):
                raise ParseRdfError(
                    "json-ld profile: @context must be an object, array, "
                    "or a mapped reference"
                )
            for k, v in part.items():
                if k == "@vocab":
                    if not isinstance(v, str):
                        raise ParseRdfError("json-ld: @vocab must be a string")
                    self.vocab = v
                elif k == "@base":
                    if not isinstance(v, str):
                        raise ParseRdfError("json-ld: @base must be a string")
                    self.base = v
                elif k.startswith("@"):
                    raise ParseRdfError(
                        f"json-ld profile: unsupported context keyword {k!r}"
                    )
                elif isinstance(v, str):
                    if v == "@nest":
                        self.terms[k] = {"nest": True}
                    else:
                        self.terms[k] = {"id": v}
                elif isinstance(v, dict):
                    bad = set(v) - {
                        "@id", "@type", "@language", "@container",
                        "@reverse", "@context",
                    }
                    if bad:
                        raise ParseRdfError(
                            f"json-ld profile: unsupported term keys {sorted(bad)}"
                        )
                    if v.get("@id") == "@nest":
                        self.terms[k] = {"nest": True}
                        if "@context" in v:
                            self.terms[k]["context"] = v["@context"]
                        continue
                    cont = v.get("@container")
                    if cont not in (None, "@list", "@set", "@index"):
                        raise ParseRdfError(
                            f"json-ld profile: unsupported @container {cont!r}"
                        )
                    if "@reverse" in v and "@id" in v:
                        raise ParseRdfError(
                            f"json-ld: term {k!r} has both @id and @reverse"
                        )
                    if "@reverse" in v and cont in ("@list", "@index"):
                        # the spec allows only @set/@index-free containers
                        # on reverse terms; silently feeding an index map
                        # into the reverse path would mis-parse
                        raise ParseRdfError(
                            f"json-ld: @reverse term {k!r} cannot carry "
                            f"@container {cont}"
                        )
                    self.terms[k] = {
                        "id": v.get("@reverse", v.get("@id", k)),
                        "type": v.get("@type"),
                        "language": v.get("@language"),
                        "container": cont,
                        "reverse": "@reverse" in v,
                    }
                    if "@context" in v:
                        # property-scoped context: stored RAW, loaded as a
                        # child scope when the term's values are processed.
                        # An explicit null is a real value (it RESETS the
                        # subtree's terms), so presence is keyed, not
                        # None-checked.
                        self.terms[k]["context"] = v["@context"]
                else:
                    raise ParseRdfError(
                        f"json-ld: invalid term definition for {k!r}"
                    )

    def expand(self, term: str, *, vocab: bool, _seen: frozenset = frozenset()) -> str:
        """IRI expansion: term definition > prefixed name > @vocab (for
        predicates/types) > @base resolution (for node ids).  Cyclic term
        definitions raise ParseRdfError, never RecursionError."""
        if term.startswith("@"):
            raise ParseRdfError(f"json-ld: unsupported keyword {term!r}")
        if term in _seen:
            raise ParseRdfError(
                f"json-ld: cyclic @context term definition at {term!r}"
            )
        seen = _seen | {term}
        t = self.terms.get(term)
        if t is not None and t.get("nest"):
            raise ParseRdfError(
                f"json-ld: @nest-aliased term {term!r} used as an IRI"
            )
        if t is not None and t["id"] != term:  # self-referential defs fall through
            iri = t["id"]
            # a term mapping to another term/prefixed name expands again
            return iri if _ABS_IRI.match(iri) else self.expand(
                iri, vocab=vocab, _seen=seen
            )
        p, sep, local = term.partition(":")
        if sep:
            pt = self.terms.get(p)
            if pt is not None:
                base_iri = pt["id"]
                # a prefix whose own definition is a compact IRI expands too
                if not _ABS_IRI.match(base_iri):
                    if p in seen:
                        raise ParseRdfError(
                            f"json-ld: cyclic @context prefix definition at {p!r}"
                        )
                    base_iri = self.expand(base_iri, vocab=False, _seen=seen | {p})
                return base_iri + local
            if not term.startswith("//"):
                return term  # already an absolute IRI
        if vocab:
            if self.vocab:
                return self.vocab + term
            raise ParseRdfError(f"json-ld: term {term!r} not in @context")
        return _resolve(self.base, term)


_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://|^urn:|^mailto:")


_JLD_MAX_DEPTH = 200


def parse_jsonld_doc(
    text: str,
    base: str,
    doc_id: str,
    context_map: dict | None = None,
) -> Iterator[Triple]:
    """``context_map`` pre-resolves remote (string URL) context references
    — {url: context-object}; anything not in the map still refuses loudly
    (a parser must never do network I/O)."""
    try:
        doc = json.loads(text)
    except json.JSONDecodeError as ex:
        raise ParseRdfError(f"json-ld: {ex}") from ex
    except RecursionError:
        raise ParseRdfError("json-ld: document nesting too deep") from None
    ctx0 = _JldCtx(base, context_map)
    if isinstance(doc, dict) and "@context" in doc:
        ctx0.load(doc["@context"])
        doc = {k: v for k, v in doc.items() if k != "@context"}
    if isinstance(doc, list):
        nodes = doc
    elif isinstance(doc, dict) and "@graph" in doc:
        nodes = doc["@graph"]
        if not isinstance(nodes, list):
            nodes = [nodes]
    else:
        nodes = [doc]
    counter = {"b": 0}

    def fresh_bnode() -> str:
        counter["b"] += 1
        return _skolem_anon(doc_id, counter["b"])

    def subject_of(node: dict, ctx: _JldCtx) -> str:
        nid = node.get("@id")
        if nid is None:
            return fresh_bnode()
        if not isinstance(nid, str):
            raise ParseRdfError(f"json-ld: @id must be a string, got {nid!r}")
        if nid.startswith("_:"):
            return _skolem(doc_id, nid[2:])
        return ctx.expand(nid, vocab=False)

    def node_object(subj, pred, v, depth, ctx, reverse) -> Iterator[Triple]:
        """A nested node object value: mint ONE subject (under the node's
        embedded @context if present), emit the edge (reversed when the
        term/@reverse map says so), then walk the node's own properties."""
        nctx = ctx.child(v["@context"]) if "@context" in v else ctx
        nested = subject_of(v, nctx)
        if reverse:
            yield (nested, pred, subj, "uri", None, None)
        else:
            yield (subj, pred, nested, "uri", None, None)
        n_meta = sum(1 for k in ("@id", "@context") if k in v)
        if len(v) > n_meta:
            yield from walk(v, subj=nested, depth=depth + 1, ctx=nctx)

    def value_triple(subj, pred, v, tdef, depth, ctx) -> Iterator[Triple]:
        """One non-list value -> triples (recursing into node objects).
        JSON nulls are DROPPED per JSON-LD semantics (never a 'None'
        literal)."""
        if v is None:
            return
        if depth > _JLD_MAX_DEPTH:
            raise ParseRdfError("json-ld: node nesting too deep")
        if isinstance(v, dict):
            if "@list" in v:
                yield from list_triples(subj, pred, v["@list"], tdef, depth, ctx)
                return
            if "@value" in v:
                if v["@value"] is None:
                    return
                dt = v.get("@type")
                dt = ctx.expand(dt, vocab=True) if dt else None
                _, _, o, k, lg, dtt = _literal(
                    _scalar_lex(v["@value"]), v.get("@language"), dt
                )
                yield (subj, pred, o, k, lg, dtt)
                return
            # nested node object: ONE subject for both the edge and the
            # node's own properties (a second subject_of call here used to
            # mint a different fresh bnode, emitting the nested properties
            # disconnected from the edge)
            yield from node_object(subj, pred, v, depth, ctx, reverse=False)
            return
        if isinstance(v, str) and tdef and tdef.get("type") == "@id":
            yield (subj, pred, ctx.expand(v, vocab=False), "uri", None, None)
            return
        if isinstance(v, bool):
            yield (subj, pred, "true" if v else "false", "literal",
                   None, XSD + "boolean")
        elif isinstance(v, int):
            yield (subj, pred, str(v), "literal", None, XSD + "integer")
        elif isinstance(v, float):
            yield (subj, pred, repr(v), "literal", None, XSD + "double")
        elif isinstance(v, str):
            dt = tdef.get("type") if tdef else None
            dt = ctx.expand(dt, vocab=True) if dt and dt != "@id" else None
            lang = (tdef.get("language") if tdef else None)
            _, _, o, k, lg, dtt = _literal(v, lang, dt)
            yield (subj, pred, o, k, lg, dtt)
        else:
            raise ParseRdfError(
                f"json-ld: unsupported value type {type(v).__name__}"
            )

    def reverse_triple(subj, pred, v, depth, ctx, flip=True) -> Iterator[Triple]:
        """A @reverse value: must denote a NODE (IRI string or node
        object); literals are malformed JSON-LD and refuse loudly.
        ``flip=True`` emits the reversed edge (node, pred, subj);
        ``flip=False`` emits forward — the double-reversal case (a
        @reverse-defined term used INSIDE a node-level @reverse map
        cancels back to a forward edge, per spec)."""
        if v is None:
            return
        if depth > _JLD_MAX_DEPTH:
            raise ParseRdfError("json-ld: node nesting too deep")
        if isinstance(v, str):
            node = (_skolem(doc_id, v[2:]) if v.startswith("_:")
                    else ctx.expand(v, vocab=False))
            if flip:
                yield (node, pred, subj, "uri", None, None)
            else:
                yield (subj, pred, node, "uri", None, None)
            return
        if isinstance(v, dict) and "@value" not in v and "@list" not in v:
            yield from node_object(subj, pred, v, depth, ctx, reverse=flip)
            return
        raise ParseRdfError(
            f"json-ld: @reverse value must be a node, got {v!r}"
        )

    def list_triples(subj, pred, items, tdef, depth, ctx) -> Iterator[Triple]:
        if not isinstance(items, list):
            items = [items]
        items = [x for x in items if x is not None]
        if not items:
            yield (subj, pred, RDF_NS + "nil", "uri", None, None)
            return
        heads = [fresh_bnode() for _ in items]
        yield (subj, pred, heads[0], "uri", None, None)
        for i, item in enumerate(items):
            yield from value_triple(
                heads[i], RDF_NS + "first", item, tdef, depth + 1, ctx
            )
            nxt = heads[i + 1] if i + 1 < len(items) else RDF_NS + "nil"
            yield (heads[i], RDF_NS + "rest", nxt, "uri", None, None)

    def walk(node, subj=None, depth=0, ctx=ctx0) -> Iterator[Triple]:
        if not isinstance(node, dict):
            raise ParseRdfError(
                f"json-ld: node must be an object, got {type(node).__name__}"
            )
        if depth > _JLD_MAX_DEPTH:
            raise ParseRdfError("json-ld: node nesting too deep")
        if subj is None:
            # top-level node-embedded @context (nested ones are handled by
            # node_object before the subject is minted)
            if "@context" in node:
                ctx = ctx.child(node["@context"])
            subj = subject_of(node, ctx)
        types = node.get("@type", [])
        for t in types if isinstance(types, list) else [types]:
            if not isinstance(t, str):
                raise ParseRdfError(f"json-ld: @type must be a string, got {t!r}")
            yield (subj, RDF_NS + "type", ctx.expand(t, vocab=True),
                   "uri", None, None)
        for key, val in node.items():
            if key == "@reverse":
                if not isinstance(val, dict):
                    raise ParseRdfError("json-ld: @reverse must be an object")
                for rkey, rval in val.items():
                    if rkey.startswith("@"):
                        raise ParseRdfError(
                            f"json-ld: keyword {rkey!r} inside @reverse"
                        )
                    rtdef = ctx.terms.get(rkey)
                    rpred = ctx.expand(rkey, vocab=True)
                    # a @reverse-DEFINED term inside a node-level @reverse
                    # map double-reverses: the edge is forward again
                    flip = not (rtdef and rtdef.get("reverse"))
                    for v in rval if isinstance(rval, list) else [rval]:
                        yield from reverse_triple(
                            subj, rpred, v, depth, ctx, flip=flip
                        )
                continue
            if key == "@nest":
                yield from process_nest(subj, val, depth, ctx)
                continue
            if key.startswith("@"):
                # @index on a node object is data organization only —
                # dropped in RDF per the JSON-LD spec
                if key not in ("@id", "@type", "@context", "@index"):
                    raise ParseRdfError(f"json-ld: unsupported keyword {key!r}")
                continue
            yield from process_entry(subj, key, val, depth, ctx)

    def process_entry(subj, key, val, depth, ctx) -> Iterator[Triple]:
        """One (term, value) node entry -> triples, honoring the term's
        definition: @nest transparency, property-scoped context,
        @reverse, @list and @index containers."""
        tdef = ctx.terms.get(key)
        if tdef and tdef.get("nest"):
            nctx = ctx.child(tdef["context"]) if "context" in tdef else ctx
            yield from process_nest(subj, val, depth, nctx)
            return
        pred = ctx.expand(key, vocab=True)
        # property-scoped context: applies to this term's VALUES
        vctx = ctx
        if tdef and "context" in tdef:
            vctx = ctx.child(tdef["context"])
        if tdef and tdef.get("reverse"):
            for v in val if isinstance(val, list) else [val]:
                yield from reverse_triple(subj, pred, v, depth, vctx)
            return
        if tdef and tdef.get("container") == "@list":
            yield from list_triples(subj, pred, val, tdef, depth, vctx)
            return
        if tdef and tdef.get("container") == "@index":
            # index keys organize the JSON; they carry NO RDF meaning and
            # are dropped — the values process as the term's plain values
            if not isinstance(val, dict):
                raise ParseRdfError(
                    "json-ld: @index container value must be an object"
                )
            for _idx, v2 in val.items():
                for v in v2 if isinstance(v2, list) else [v2]:
                    yield from value_triple(subj, pred, v, tdef, depth, vctx)
            return
        for v in val if isinstance(val, list) else [val]:
            yield from value_triple(subj, pred, v, tdef, depth, vctx)

    def process_nest(subj, val, depth, ctx) -> Iterator[Triple]:
        """@nest values are semantically TRANSPARENT: their entries are
        properties of the enclosing node; only plain objects are legal."""
        if depth > _JLD_MAX_DEPTH:
            raise ParseRdfError("json-ld: node nesting too deep")
        for obj in val if isinstance(val, list) else [val]:
            if not isinstance(obj, dict) or "@value" in obj or "@id" in obj:
                raise ParseRdfError(
                    "json-ld: @nest value must be a plain object "
                    "(no @id/@value)"
                )
            for k2, v2 in obj.items():
                if k2 == "@nest":
                    yield from process_nest(subj, v2, depth + 1, ctx)
                    continue
                if k2.startswith("@"):
                    raise ParseRdfError(
                        f"json-ld: keyword {k2!r} inside @nest"
                    )
                yield from process_entry(subj, k2, v2, depth + 1, ctx)

    for node in nodes:
        yield from walk(node)


def _scalar_lex(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


# --------------------------------------------------------------------------
# dispatch + Spark operator
# --------------------------------------------------------------------------

_PARSERS = {
    "nt": parse_ntriples_doc,
    "turtle": parse_turtle_doc,
    "xml": parse_rdfxml_doc,
    "json-ld": parse_jsonld_doc,
}


def parse_rdf_text(
    text: str, fmt: str, base: str = "", doc_id: str = "",
    context_map: dict | None = None,
) -> list[Triple]:
    """Parse one document; fmt in {'xml','turtle','nt','json-ld'} (the
    reference's DataTypes values, models.py:9-13).  ``context_map``
    pre-resolves remote JSON-LD context URLs (ignored by other formats)."""
    if fmt not in _PARSERS:
        raise ParseRdfError(f"unknown RDF format {fmt!r}")
    if fmt == "json-ld":
        return list(
            parse_jsonld_doc(text, base, doc_id or base, context_map)
        )
    return list(_PARSERS[fmt](text, base, doc_id or base))


PARSED_SCHEMA = (
    "subj string, pred string, obj string, obj_kind string, "
    "lang string, dtype string, conv_id string, turn_idx int"
)


def read_rdf_documents(spark, paths: list[str]):
    """Whole-file document scan: (source, content) — one row per file, read
    BY EXECUTORS (``spark.read.text(wholetext)`` + input_file_name), so a
    100 TB document corpus never flows through the driver."""
    from pyspark.sql import functions as F

    return spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("source"), F.col("value").alias("content")
    )


def parse_rdf_docs(docs, id_col: str = "doc_id", content_col: str = "content",
                   source_col: str = "source", fmt_col: str | None = None,
                   on_error: str = "raise", max_doc_chars: int = 64 << 20):
    """documents (id, source, content[, fmt]) -> EDGES-schema rows.

    Format comes from ``fmt_col`` when given, else from
    ``rdf_io.sniff_format`` (S4 first-bytes heuristic, the reference's
    browser.py:25 try-order).  Runs the pure-Python parsers inside
    ``mapInPandas`` — one Arrow batch of documents per call, zero driver
    involvement, output already in the edge shape (lineage: conv_id =
    source, turn_idx = 0).  ``on_error='skip'`` drops undecodable documents
    (the reference harvest skips invalid sources); 'raise' propagates.

    ``max_doc_chars`` (string length; ~bytes for ASCII-dominated corpora) is the S5 straggler guard: one pathological document
    must not pin an executor core (the reference bounds this with rdflib's
    request/parse timeouts); oversized documents fail fast with a
    ParseRdfError routed through ``on_error`` — the parsers themselves are
    single-pass/linear, so the byte cap bounds per-document work.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from .rdf_io import sniff_format

    if fmt_col is None:
        docs = docs.withColumn("_fmt", sniff_format(F.col(content_col)))
        fmt_col = "_fmt"
    proj = docs.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(source_col).alias("_src"),
        F.col(content_col).alias("_content"),
        F.col(fmt_col).alias("_f"),
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from breg_dcat_harvester_spark.functions.workerenv import pin_native_threads
        pin_native_threads()

        for pdf in batches:
            rows = []
            for doc_id, source, content, fmt in pdf.itertuples(index=False):
                try:
                    if fmt is None:
                        raise ParseRdfError("unrecognized RDF serialization")
                    if content is not None and len(content) > max_doc_chars:
                        raise ParseRdfError(
                            f"document exceeds max_doc_chars ({len(content)}"
                            f" > {max_doc_chars})"
                        )
                    for t in parse_rdf_text(
                        content, fmt, base=source or "", doc_id=str(doc_id)
                    ):
                        rows.append((*t, str(source), 0))
                except ParseRdfError:
                    if on_error != "skip":
                        raise
            yield pd.DataFrame(
                rows,
                columns=[
                    "subj", "pred", "obj", "obj_kind", "lang", "dtype",
                    "conv_id", "turn_idx",
                ],
            )

    return proj.mapInPandas(run, schema=PARSED_SCHEMA)
