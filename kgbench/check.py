"""Correctness checks, run outside the timed window.

* harvest: the ``triples`` table equals the triple set of the repository's
  row-at-a-time extraction oracle (``tests/oracle.py``) over the same
  transcripts.
* browse: every distinct request's answer equals a DuckDB evaluation over
  the same ``edges`` parquet files.  Unordered SPARQL ``LIMIT`` answers are
  checked as a sub-bag of the full answer with the right size.
"""

from __future__ import annotations

import ast
import json
from collections import Counter

import duckdb

from breg_dcat_harvester_spark.operators.facets import FACET_LIMIT
from breg_dcat_harvester_spark.operators.labels import LABEL_PREDS
from breg_dcat_harvester_spark.operators.search import SEARCH_LIMIT_DEFAULT
from breg_dcat_harvester_spark.schema import CLASS_URIS, DCAT, DCT, PRED_URIS, RDF_TYPE
from breg_dcat_harvester_spark.storage import LocalSnapshotTable


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# -- harvest ------------------------------------------------------------------


def check_triples(spark, out_dir: str, transcripts) -> int:
    """The harvest's ``triples`` table equals the oracle's triple set."""
    from tests.oracle import extract_table

    expected = extract_table(transcripts, emit_provenance=True)
    got = {
        (r.subj, r.pred, r.obj)
        for r in LocalSnapshotTable(f"{out_dir}/triples")
        .read(spark)
        .select("subj", "pred", "obj")
        .distinct()
        .collect()
    }
    _require(got == expected, f"triples differ from oracle: "
             f"{len(got - expected)} extra, {len(expected - got)} missing")
    return len(expected)


# -- browse -------------------------------------------------------------------

FACETS = {
    "taxonomy": ("Catalog", DCAT + "themeTaxonomy"),
    "location": ("Catalog", DCT + "spatial"),
    "language": ("Catalog", PRED_URIS["language"]),
    "theme": ("Dataset", DCAT + "theme"),
}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class BrowseOracle:
    """DuckDB evaluations of the browse requests over one ``edges`` table."""

    def __init__(self, edges_dir: str):
        files = [f"{edges_dir}/data/{f}" for f in LocalSnapshotTable(edges_dir).snapshots()[-1]["files"]]
        self.db = duckdb.connect()
        self.db.execute(
            "CREATE TABLE raw AS SELECT * FROM read_parquet(["
            + ", ".join(_q(f) for f in files) + "])"
        )
        # the graph as a set of terms (what the CLI's SPARQL path reads)
        self.db.execute(
            "CREATE TABLE edges AS SELECT DISTINCT subj, pred, obj, obj_kind, lang, dtype FROM raw"
        )

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.db.execute(sql).fetchall()]

    def facets(self) -> set[tuple]:
        parts = []
        for key, (cls, pred) in FACETS.items():
            parts.append(f"""(SELECT DISTINCT '{key}' AS facet, p.obj AS term
                FROM edges t JOIN edges p ON t.subj = p.subj
                WHERE t.pred = {_q(RDF_TYPE)} AND t.obj = {_q(CLASS_URIS[cls])}
                  AND p.pred = {_q(pred)} ORDER BY term LIMIT {FACET_LIMIT})""")
        parts.append(f"""(SELECT DISTINCT 'publisherType' AS facet, pt.obj AS term
            FROM edges t JOIN edges pub ON pub.subj = t.subj AND pub.pred = {_q(DCT + 'publisher')}
            JOIN edges pt ON pt.subj = pub.obj AND pt.pred = {_q(DCT + 'type')}
            WHERE t.pred = {_q(RDF_TYPE)} AND t.obj = {_q(CLASS_URIS['Catalog'])}
            ORDER BY term LIMIT {FACET_LIMIT})""")
        return set(self.rows(" UNION ALL ".join(parts)))

    def labels(self) -> set[tuple]:
        prio = " ".join(f"WHEN {_q(p)} THEN {i}" for i, p in enumerate(LABEL_PREDS))
        preds = ", ".join(_q(p) for p in LABEL_PREDS)
        self.db.execute(f"""CREATE OR REPLACE TABLE labels AS
            SELECT term, label, lang, label_prop FROM (
              SELECT subj AS term, obj AS label, lang, pred AS label_prop,
                     row_number() OVER (PARTITION BY subj ORDER BY
                        CASE pred {prio} END, CASE WHEN lang = 'en' THEN 0 ELSE 1 END, obj) AS rn
              FROM raw WHERE pred IN ({preds}) AND obj_kind = 'literal')
            WHERE rn = 1""")
        lab = {r[0]: r[1:] for r in self.rows("SELECT * FROM labels")}
        return {(f, t) + lab.get(t, (None, None, None)) for f, t in self.facets()}

    def _star(self, filters: dict[str, list[str]]) -> str:
        where = "".join(
            f" AND {_STAR_COLS[key]} IN ({', '.join(_q(v) for v in vals)})"
            for key, vals in sorted(filters.items())
        )
        return f"""SELECT ct.subj AS catalog, cd.obj AS dataset, tax.obj AS themeTaxonomy,
                   lng.obj AS language, thm.obj AS theme, pub.obj AS publisher,
                   pt.obj AS publisherType, loc.obj AS location
            FROM edges ct
            JOIN edges cd ON cd.subj = ct.subj AND cd.pred = {_q(DCAT + 'dataset')}
            JOIN edges dt ON dt.subj = cd.obj AND dt.pred = {_q(RDF_TYPE)} AND dt.obj = {_q(CLASS_URIS['Dataset'])}
            JOIN edges tax ON tax.subj = ct.subj AND tax.pred = {_q(DCAT + 'themeTaxonomy')}
            JOIN edges lng ON lng.subj = ct.subj AND lng.pred = {_q(PRED_URIS['language'])}
            JOIN edges thm ON thm.subj = cd.obj AND thm.pred = {_q(DCAT + 'theme')}
            JOIN edges pub ON pub.subj = ct.subj AND pub.pred = {_q(DCT + 'publisher')}
            JOIN edges pt ON pt.subj = pub.obj AND pt.pred = {_q(DCT + 'type')}
            JOIN edges loc ON loc.subj = ct.subj AND loc.pred = {_q(DCT + 'spatial')}
            WHERE ct.pred = {_q(RDF_TYPE)} AND ct.obj = {_q(CLASS_URIS['Catalog'])}{where}"""

    def _detail_rows(self, found_sql: str) -> str:
        return f"""SELECT cd.subj AS catalog, f.dataset, d.obj AS description,
                   i.obj AS identifier, ti.obj AS title, di.obj AS distribution,
                   du.obj AS distributionURL, dm.obj AS distributionType,
                   sp.obj AS datasetSpatial, th.obj AS theme, lg.obj AS language,
                   dd.obj AS distributionDescription
            FROM ({found_sql}) f
            JOIN edges cd ON cd.obj = f.dataset AND cd.pred = {_q(DCAT + 'dataset')}
            JOIN edges ctt ON ctt.subj = cd.subj AND ctt.pred = {_q(RDF_TYPE)} AND ctt.obj = {_q(CLASS_URIS['Catalog'])}
            JOIN edges dt ON dt.subj = f.dataset AND dt.pred = {_q(RDF_TYPE)} AND dt.obj = {_q(CLASS_URIS['Dataset'])}
            JOIN edges d ON d.subj = f.dataset AND d.pred = {_q(DCT + 'description')}
            JOIN edges i ON i.subj = f.dataset AND i.pred = {_q(DCT + 'identifier')}
            JOIN edges ti ON ti.subj = f.dataset AND ti.pred = {_q(DCT + 'title')}
            JOIN edges di ON di.subj = f.dataset AND di.pred = {_q(DCAT + 'distribution')}
            JOIN edges du ON du.subj = di.obj AND du.pred = {_q(DCAT + 'accessURL')}
            JOIN edges dm ON dm.subj = di.obj AND dm.pred = {_q(DCAT + 'mediaType')}
            JOIN edges sp ON sp.subj = f.dataset AND sp.pred = {_q(DCT + 'spatial')}
            JOIN edges th ON th.subj = f.dataset AND th.pred = {_q(DCAT + 'theme')}
            JOIN edges lg ON lg.subj = cd.subj AND lg.pred = {_q(PRED_URIS['language'])}
            LEFT JOIN edges dd ON dd.subj = di.obj AND dd.pred = {_q(DCT + 'description')}"""

    def search(self, filters: dict[str, list[str]]) -> list[tuple]:
        """search_datasets -> dataset_details_nested, in the comparable form
        of ``nested_form``."""
        found = (
            f"SELECT DISTINCT dataset FROM (SELECT dataset FROM ({self._star(filters)}) "
            f"ORDER BY dataset LIMIT {SEARCH_LIMIT_DEFAULT})"
        )
        per_ds: dict[str, dict] = {}
        for r in self.rows(self._detail_rows(found)):
            (catalog, ds, descr, ident, title, dist, url, dtype, loc, theme, lang, ddescr) = r
            d = per_ds.setdefault(ds, {"catalog": set(), "description": set(),
                                       "identifier": set(), "title": set(),
                                       "location": set(), "theme": set(),
                                       "language": set(), "distribution": {}})
            for k, v in (("catalog", catalog), ("description", descr), ("identifier", ident),
                         ("title", title), ("location", loc), ("theme", theme),
                         ("language", lang)):
                d[k].add(v)
            e = d["distribution"].setdefault(dist, {"url": set(), "type": set(), "description": set()})
            e["url"].add(url)
            e["type"].add(dtype)
            if ddescr is not None:
                e["description"].add(ddescr)
        return sorted(
            (ds, min(d["catalog"]))
            + tuple(tuple(sorted(d[k])) for k in
                    ("description", "identifier", "title", "location", "theme", "language"))
            + (tuple(sorted(
                (k, min(e["url"]), min(e["type"]), tuple(sorted(e["description"])) or ("",))
                for k, e in d["distribution"].items())),)
            for ds, d in per_ds.items()
        )

    def sparql(self, key: str) -> tuple[Counter, int | None]:
        """(full answer bag, LIMIT) for a SPARQL request key (the key texts
        are ``inputs.RequestMix``'s)."""
        kind, _, arg = key.partition(":")
        if kind == "sparql-facet":
            if arg == "publisherType":
                sql = f"""SELECT t.subj, pub.obj, pt.obj FROM edges t
                    JOIN edges pub ON pub.subj = t.subj AND pub.pred = {_q(DCT + 'publisher')}
                    JOIN edges pt ON pt.subj = pub.obj AND pt.pred = {_q(DCT + 'type')}
                    WHERE t.pred = {_q(RDF_TYPE)} AND t.obj = {_q(CLASS_URIS['Catalog'])}"""
            else:
                cls, pred = FACETS[arg]
                sql = f"""SELECT t.subj, NULL, p.obj FROM edges t JOIN edges p ON t.subj = p.subj
                    WHERE t.pred = {_q(RDF_TYPE)} AND t.obj = {_q(CLASS_URIS[cls])}
                      AND p.pred = {_q(pred)}"""
            return Counter(self.rows(sql)), 50
        if kind == "sparql-search":
            filters = dict(ast.literal_eval(arg))
            return Counter(self.rows(self._star(filters))), SEARCH_LIMIT_DEFAULT
        uris = ast.literal_eval(arg)
        found = " UNION ALL ".join(f"SELECT {_q(u)} AS dataset" for u in uris)
        return Counter(self.rows(self._detail_rows(found))), None


# star column of each facet filter key the request mix uses
_STAR_COLS = {
    "theme": "thm.obj", "location": "loc.obj", "language": "lng.obj",
    "publisherType": "pt.obj",
}


def nested_form(json_rows: list[str]) -> list[tuple]:
    """dataset_details_nested's JSON rows in the oracle's comparable form."""
    out = []
    for line in json_rows:
        r = json.loads(line)
        dist = tuple(sorted(
            (k, v["url"], v["type"], tuple(sorted(v["description"])))
            for k, v in r["distribution"].items()
        ))
        out.append(
            (r["dataset"], r["catalog"])
            + tuple(tuple(sorted(r[k])) for k in
                    ("description", "identifier", "title", "location", "theme", "language"))
            + (dist,)
        )
    return sorted(out)


def check_sparql_answer(got: list[tuple], full: Counter, limit: int | None, key: str) -> None:
    bag = Counter(got)
    if limit is None:
        _require(bag == full, f"SPARQL {key}: answer differs from DuckDB")
        return
    _require(not (bag - full), f"SPARQL {key}: rows outside the full answer")
    _require(
        sum(bag.values()) == min(limit, sum(full.values())),
        f"SPARQL {key}: {sum(bag.values())} rows, expected "
        f"{min(limit, sum(full.values()))}",
    )
