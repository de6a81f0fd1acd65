"""CLI for the pipeline (north_rule: "runs via spark-submit --py-files").

Usage (cluster — spark-submit takes a script, so the thin
``scripts/submit_harvest.py`` is the submittable entry; the package ships in
the --py-files zip and is imported from it on driver and executors; the
submitted --master is respected, see session.get_spark):
    zip -r pipeline.zip breg_dcat_harvester_spark
    spark-submit --master <cluster> --py-files pipeline.zip \\
        scripts/submit_harvest.py \\
        harvest --transcripts <path-or-iceberg-table> --out <dir> [--resume RUN_ID]

Local:
    python -m breg_dcat_harvester_spark.cli harvest --transcripts data/transcripts/sf0.01 --out /tmp/kg
    python -m breg_dcat_harvester_spark.cli facets --out /tmp/kg
    python -m breg_dcat_harvester_spark.cli search --out /tmp/kg --theme <uri> ...
"""

from __future__ import annotations

import argparse
import json
import sys

from .plans.harvest import HarvestConfig, run_harvest
from .session import get_spark
from .storage import LocalSnapshotTable


def _cmd_harvest(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="harvest")
    cfg = HarvestConfig(
        out_dir=args.out,
        strict_validation=args.strict,
        all_or_nothing=args.all_or_nothing,
        num_buckets=args.buckets,
        source_kind=args.source_kind,
    )
    res = run_harvest(spark, args.transcripts, cfg, run_id=args.resume)
    print(json.dumps(res))
    return 0


def _cmd_harvest_increment(args: argparse.Namespace) -> int:
    from .plans.harvest import harvest_increment

    spark = get_spark(app_name="harvest-increment")
    cfg = HarvestConfig(
        out_dir=args.out,
        strict_validation=args.strict,
        num_buckets=args.buckets,
    )
    res = harvest_increment(
        spark, args.base, args.transcripts, cfg, run_id=args.resume
    )
    print(json.dumps(res))
    return 0


def _cmd_facets(args: argparse.Namespace) -> int:
    from .operators import facets as fac

    spark = get_spark(app_name="facets")
    edges = LocalSnapshotTable(f"{args.out}/edges").read(spark)
    out = fac.all_facets(edges, limit=args.limit)
    print(json.dumps([r.asDict() for r in out.collect()]))
    return 0


def _cmd_search(args: argparse.Namespace) -> int:
    from .operators import search as srch

    spark = get_spark(app_name="search")
    edges = LocalSnapshotTable(f"{args.out}/edges").read(spark)
    filters = {}
    for key in srch.FILTER_KEYS:
        vals = getattr(args, key.lower().replace("-", "_"), None)
        if vals:
            filters[key] = vals
    found = srch.search_datasets(edges, filters, limit=args.limit)
    detail = srch.dataset_details_nested(edges, found)
    print(json.dumps([json.loads(r) for r in detail.toJSON().collect()]))
    return 0


def _cmd_export(args: argparse.Namespace) -> int:
    """Serialize a harvested graph to N-Triples part files (the distributed
    analog of the reference's store serialization, store.py:19-25)."""
    from .operators.export import partition_lineage, write_ntriples

    from .operators.export import write_turtle

    spark = get_spark(app_name="export")
    edges = LocalSnapshotTable(f"{args.out}/edges").read(spark)
    # an RDF graph is a SET of triples: canonicalization can leave several
    # provenance rows per term row, but the exported document — like the
    # reference's num_triples (harvest.py:58) — carries each once.  The set
    # key is ALL SIX term columns: triples differing only in lang/dtype/
    # obj_kind ("v"@en vs "v"@fr, or a literal vs a URI with the same
    # lexical form) are distinct RDF triples and must all survive export.
    graph = edges.dropDuplicates(
        ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]
    )
    if getattr(args, "format", "nt") == "ttl":
        write_turtle(graph, args.dest)
    else:
        write_ntriples(graph, args.dest)
    # lineage needs the provenance columns; a term-only table (e.g. one
    # built by INSERT DATA alone) exports fine, just without buckets
    n_lineage = (
        partition_lineage(edges).count()
        if "conv_id" in edges.columns
        else None
    )
    print(json.dumps({
        "dest": args.dest,
        "format": getattr(args, "format", "nt"),
        "num_triples": graph.count(),
        "num_lineage_buckets": n_lineage,
    }))
    return 0


def _cmd_sparql(args: argparse.Namespace) -> int:
    """Query or update a harvested graph — the CLI face of plans/sparql.py
    (all four query forms) and plans/sparql_update.py (the reference's
    write path, store.py:19-54)."""
    if bool(args.query) == bool(args.update):
        print("sparql: pass exactly one of --query / --update", file=sys.stderr)
        return 2
    spark = get_spark(app_name="sparql")
    table = LocalSnapshotTable(f"{args.out}/edges")
    edges = table.read(spark).dropDuplicates(
        ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]
    )
    if args.query:
        from .plans.sparql import compile_query

        df = compile_query(edges, args.query)
        rows = df.limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"rows_printed": len(rows)}), file=sys.stderr)
        return 0
    from .plans.sparql_update import TERM_COLS, apply_update

    full = table.read(spark)
    updated = apply_update(edges, args.update)
    prov_cols = [c for c in full.columns if c not in TERM_COLS]
    if prov_cols:
        # re-attach provenance for surviving triples (updates must not
        # strip lineage); inserted triples carry NULLs — null-safe join
        # because lang/dtype are NULL for URI objects
        u, f = updated.alias("__u"), full.alias("__f")
        cond = None
        for c in TERM_COLS:
            e = u[c].eqNullSafe(f[c])
            cond = e if cond is None else (cond & e)
        updated = u.join(f, cond, "left").select(
            *[u[c] for c in TERM_COLS], *[f[c] for c in prov_cols]
        )
    snap = table.write(updated, mode="overwrite")
    print(json.dumps({
        "num_triples": updated.select(*TERM_COLS).distinct().count(),
        "snapshot_id": snap,
    }))
    return 0


def _cmd_schedule(args: argparse.Namespace) -> int:
    import datetime as dt

    from .streaming.scheduler import run_scheduled_harvests

    spark = get_spark(app_name="schedule")
    base = dt.datetime.fromisoformat(args.base) if args.base else None
    recs = run_scheduled_harvests(
        spark,
        args.transcripts,
        f"{args.out}/edges_stream",
        f"{args.out}/checkpoint",
        interval_seconds=args.interval,
        base_date=base,
        max_runs=args.max_runs,
        job_timeout_seconds=args.job_timeout,
        expire_keep=args.expire_keep,
    )
    print(json.dumps(recs))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="breg-dcat-harvester-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    h = sub.add_parser("harvest", help="run (or resume) the harvest pipeline")
    h.add_argument("--transcripts", required=True)
    h.add_argument("--out", required=True)
    h.add_argument("--strict", action="store_true")
    h.add_argument("--all-or-nothing", action="store_true")
    h.add_argument("--buckets", type=int, default=32)
    h.add_argument("--resume", default=None, help="run_id to resume")
    h.add_argument(
        "--source-kind", default="transcripts",
        choices=["transcripts", "rdf_docs"],
        help="'rdf_docs' harvests raw RDF documents (the reference's literal "
        "harvest shape) through the same staged pipeline",
    )
    h.set_defaults(fn=_cmd_harvest)

    hi = sub.add_parser(
        "harvest-increment",
        help="fold a shard of NEW transcripts into an existing harvest "
        "output (cost ∝ shard; base tables probed + rewritten map-only)",
    )
    hi.add_argument("--base", required=True, help="out dir of the base harvest")
    hi.add_argument("--transcripts", required=True, help="the NEW shard")
    hi.add_argument("--out", required=True, help="out dir for the updated graph")
    hi.add_argument("--strict", action="store_true")
    hi.add_argument("--buckets", type=int, default=32)
    hi.add_argument("--resume", default=None, help="run_id to resume")
    hi.set_defaults(fn=_cmd_harvest_increment)

    f = sub.add_parser("facets", help="compute the five facet lists")
    f.add_argument("--out", required=True)
    f.add_argument("--limit", type=int, default=50)
    f.set_defaults(fn=_cmd_facets)

    s = sub.add_parser("search", help="two-stage faceted dataset search")
    s.add_argument("--out", required=True)
    s.add_argument("--limit", type=int, default=200)
    for key in ("catalog", "dataset", "themetaxonomy", "language", "theme",
                "publisher", "publishertype", "location"):
        s.add_argument(f"--{key}", action="append")
    s.set_defaults(fn=_cmd_search)

    e = sub.add_parser(
        "export",
        help="serialize a harvested graph to N-Triples or Turtle part files",
    )
    e.add_argument("--out", required=True, help="harvest out dir (reads edges)")
    e.add_argument("--dest", required=True, help="destination dir for part files")
    e.add_argument(
        "--format", choices=("nt", "ttl"), default="nt",
        help="nt = line-oriented N-Triples (map-only); "
        "ttl = grouped prefix-compacted Turtle (one subj hash-agg)",
    )
    e.set_defaults(fn=_cmd_export)

    sq = sub.add_parser(
        "sparql",
        help="run a SPARQL query (all four forms) or update request "
        "against a harvested graph",
    )
    sq.add_argument("--out", required=True, help="harvest out dir (reads edges)")
    sq.add_argument("--query", help="SELECT/ASK/CONSTRUCT/DESCRIBE text")
    sq.add_argument(
        "--update",
        help="SPARQL Update request (INSERT/DELETE DATA, DELETE WHERE, "
        "modify, CLEAR; ';'-sequences); commits the post-update graph as "
        "a new edges snapshot",
    )
    sq.add_argument("--limit", type=int, default=50, help="print at most N rows")
    sq.set_defaults(fn=_cmd_sparql)

    sch = sub.add_parser(
        "schedule",
        help="recurring incremental harvest on an interval cadence "
        "(missed runs coalesce into one catch-up drain; per-run timeout)",
    )
    sch.add_argument("--transcripts", required=True)
    sch.add_argument("--out", required=True)
    sch.add_argument("--interval", type=int, default=3600, help="seconds")
    sch.add_argument("--base", default=None, help="ISO base date (trigger anchor)")
    sch.add_argument("--max-runs", type=int, default=1)
    sch.add_argument("--job-timeout", type=float, default=None, help="seconds (T4)")
    sch.add_argument("--expire-keep", type=int, default=None,
                     help="retain only N newest snapshots after each run (T5)")
    sch.set_defaults(fn=_cmd_schedule)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
