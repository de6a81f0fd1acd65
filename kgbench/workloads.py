"""The benchmark's workloads: one closed-loop client driving the package.

``harvest_batch``  times one ``run_harvest`` of the seeded corpus, the first
                   in a fresh process (what a CLI or spark-submit harvest
                   pays), into a fresh ``out_dir`` and ``run_id``.
``browse``         builds the graph during set-up, then issues rounds of the
                   seeded read-API request mix against the materialized
                   ``edges`` table, reading the table per request as the
                   CLI does.

Each workload returns the per-operation latencies, the attempted and failed
counts, and (traced) the per-layer counters of every operation.
"""

from __future__ import annotations

import statistics
import time
import traceback
import uuid
from dataclasses import dataclass, field

from breg_dcat_harvester_spark.datagen import write_transcripts_parquet
from breg_dcat_harvester_spark.operators import facets, labels, search
from breg_dcat_harvester_spark.plans import sparql
from breg_dcat_harvester_spark.operators.extract import extract_edges
from breg_dcat_harvester_spark.operators.merge import merge_triples
from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, _bucketed, run_harvest
from breg_dcat_harvester_spark.storage import LocalSnapshotTable

from . import check, inputs
from .trace import SparkCounters, Tracer, dur, layer_seconds

TERM_COLS = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]
# browse set-up builds the graph this many times and reports the median
# build: the first build is cold, so one build alone swings with the JIT
BUILD_REPEATS = 3
# largest tolerated gap between a stage span and the seconds run_harvest
# reports for that stage (both are taken at the same two instants)
STAGE_SPAN_TOLERANCE_S = 0.05
MIN_ROUNDS = 2


@dataclass
class Run:
    """What one workload run measured."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: list[dict] = field(default_factory=list)  # per traced operation
    info: dict = field(default_factory=dict)


class Context:
    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(spark.sparkContext) if traced else None
        self.counters = SparkCounters(spark) if traced else None
        self.setup_end: float | None = None
        self.setup_excluded = 0.0

    def setup_done(self, excluded: float = 0.0) -> None:
        """Set-up ends now; ``excluded`` seconds of it (repeats beyond the
        median of a repeated step) are not set-up time."""
        self.setup_end = time.perf_counter()
        self.setup_excluded = excluded

    def generate_corpus(self):
        """Generate and write the corpus once; returns its time too."""
        t0 = time.perf_counter()
        pdf = inputs.corpus(self.seed)
        path = write_transcripts_parquet(pdf, f"{self.work}/transcripts")
        return pdf, path, time.perf_counter() - t0

    def layer_counters(self, first_span: int, extra: dict) -> dict:
        """Spark counters of the spans opened since ``first_span``."""
        spans = self.tracer.since(first_span)
        groups = {f"kgb-{s['id']}": s["layer"] for s in spans}
        spark_c = self.counters.collect(groups, skew_layers=("extract", "link"))
        persisted, cached_mb = self.counters.storage_state()
        return {"spans": spans, "spark": spark_c, "persisted_rdds": persisted,
                "cached_mb": cached_mb, **extra}


def tail(values: list[float]) -> tuple[float, float | None]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile; with fewer than 11 samples, the slowest."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], None
    k = len(s) - 11  # ten samples lie beyond index k
    return s[k], round(100.0 * (k + 1) / len(s), 1)


def _sum(spark_c: dict, layer: str, key: str) -> float:
    return spark_c.get(layer, {}).get(key, 0.0)


def harvest_layers(op: dict, result: dict, wall: float) -> dict:
    """Per-layer metrics of one traced ``run_harvest``."""
    spans, sc = op["spans"], op["spark"]
    rows = dict.fromkeys(("edges_raw", "triples", "valid_triples", "links"), 0)
    rows.update({s["stage"]: s["rows"] for s in result["stages"]})
    secs = {s["stage"]: s["seconds"] for s in result["stages"]}
    stage_spans = [s for s in spans if s["layer"] == "stage"]
    stage_sum = sum(dur(s) for s in stage_spans)
    span_err = max(
        abs(dur(s) - secs[s["attrs"]["stage"]]) for s in stage_spans
    )
    check._require(
        span_err <= STAGE_SPAN_TOLERANCE_S,
        f"stage spans differ from the harvest's stage seconds by {span_err:.3f} s",
    )
    writes = [s for s in spans if s["name"] == "storage.write"]
    cands = sum(
        s["attrs"]["candidates_df"].count()
        for s in spans
        if s["name"] == "score_candidates"
    )
    out = {
        "extract.s": layer_seconds(spans, "extract"),
        "extract.rows_out": rows["edges_raw"],
        "extract.task_skew": _sum(sc, "extract", "task_skew"),
        "merge.s": layer_seconds(spans, "merge"),
        "merge.shuffle_write_bytes": _sum(sc, "merge", "shuffle_write_bytes"),
        "merge.spill_bytes": _sum(sc, "merge", "spill_bytes"),
        "merge.dedup_ratio": rows["triples"] / rows["edges_raw"] if rows["edges_raw"] else 0.0,
        "validate.s": layer_seconds(spans, "validate"),
        "validate.quarantined": rows["triples"] - rows["valid_triples"],
        "link.s": layer_seconds(spans, "link"),
        "link.shuffle_write_bytes": _sum(sc, "link", "shuffle_write_bytes"),
        "link.candidates": cands,
        "link.pairs_out": rows["links"],
        "link.verify_ratio": rows["links"] / cands if cands else 0.0,
        "link.task_skew": _sum(sc, "link", "task_skew"),
        "cc.labels_s": layer_seconds(spans, "cc.labels"),
        "cc.jobs": _sum(sc, "cc.labels", "jobs"),
        "cc.canonicalize_s": layer_seconds(spans, "cc.canonicalize"),
        "cc.nodes_s": layer_seconds(spans, "cc.nodes"),
        "export.lineage_s": layer_seconds(spans, "export"),
        "storage.write_s": sum(dur(s) for s in writes),
        "storage.writes": len(writes),
        "storage.bytes_written": sum(s["attrs"]["bytes"] for s in writes),
        "storage.files_written": sum(s["attrs"]["files"] for s in writes),
        "storage.read_s": sum(dur(s) for s in spans if s["name"] == "storage.read"),
        "jobs.runlog_s": sum(dur(s) for s in spans if s["name"] == "runlog.record"),
        "jobs.runlog_writes": sum(1 for s in spans if s["name"] == "runlog.record"),
        "jobs.snapshot_lookup_s": sum(
            dur(s) for s in spans if s["name"] == "runlog.snapshot_for"
        ),
        "jobs.metrics_s": sum(
            dur(s) for s in spans if s["name"] == "metrics.record_partitions"
        ),
        "harvest.stage_sum_s": stage_sum,
        "harvest.unattributed_s": wall - stage_sum,
        "harvest.stage_span_err_s": span_err,
        "session.persisted_rdds": op["persisted_rdds"],
        "session.cached_mb": op["cached_mb"],
    }
    for key in ("python_boot_s", "python_init_s", "python_s", "python_bytes_in",
                "python_bytes_out", "python_rows_out"):
        out[f"extract.{key}"] = _sum(sc, "extract", key)
    return out


# -- harvest_batch ------------------------------------------------------------


def harvest_batch(ctx: Context) -> Run:
    run = Run()
    pdf, path, datagen_s = ctx.generate_corpus()
    run.info.update(datagen_s=datagen_s, turns=len(pdf),
                    conversations=int(pdf["conv_id"].nunique()))
    if ctx.tracer:
        ctx.tracer.install_harvest()
    ctx.setup_done()

    # one timed harvest, the first in this process, into a fresh out_dir and
    # run_id (a reused run_id would resume the run and skip its stages)
    run.attempted += 1
    out_dir = f"{ctx.work}/harvest"
    first = ctx.tracer.next_id if ctx.tracer else 0
    t0 = time.perf_counter()
    rec = ctx.tracer.open("run_harvest", "harvest") if ctx.tracer else None
    try:
        result = run_harvest(
            ctx.spark, path, HarvestConfig(out_dir=out_dir), run_id=f"run-{uuid.uuid4().hex[:12]}"
        )
    except Exception:
        traceback.print_exc()
        run.failed += 1
        result = None
    finally:
        if rec is not None:
            ctx.tracer.close(rec)
    wall = time.perf_counter() - t0
    if result is None:
        return run
    run.latencies.append(wall)
    run.info.update(num_triples=result["num_triples"], num_nodes=result["num_nodes"],
                    stages=result["stages"])
    if ctx.tracer:
        run.layers.append(harvest_layers(ctx.layer_counters(first, {}), result, wall))
    run.info["triples_checked"] = check.check_triples(ctx.spark, out_dir, pdf)
    return run


# -- browse -------------------------------------------------------------------


def request(spark, edges_dir: str, kind: str, params):
    """One read-API request, executed as the CLI executes it."""
    edges = LocalSnapshotTable(edges_dir).read(spark)
    if kind == "facets":
        return [tuple(r) for r in facets.all_facets(edges).collect()]
    if kind == "search":
        found = search.search_datasets(edges, params)
        return search.dataset_details_nested(edges, found).toJSON().collect()
    if kind == "labels":
        enriched = labels.enrich_terms(facets.all_facets(edges), labels.build_labels_table(edges))
        return [
            tuple(r)
            for r in enriched.select("facet", "term", "label", "lang", "label_prop").collect()
        ]
    terms = edges.dropDuplicates(TERM_COLS)
    return [tuple(r) for r in sparql.compile_query(terms, params).collect()]


def build_graph(ctx: Context, path: str, out_dir: str) -> str:
    """The browse graph: the harvest's extract -> merge head written in the
    harvest's bucketed ``edges`` layout through the storage layer.  The
    link/CC stages and the run bookkeeping are left out so that set-up fits
    the run budget; the read API sees the same table shape and layout."""
    cfg = HarvestConfig(out_dir=out_dir)
    transcripts = ctx.spark.read.parquet(path)
    merged = merge_triples(
        extract_edges(transcripts, emit_provenance=cfg.emit_provenance, impl=cfg.extract_impl)
    )
    edges_dir = f"{cfg.out_dir}/edges"
    LocalSnapshotTable(edges_dir).write(_bucketed(merged, cfg))
    return edges_dir


def browse(ctx: Context) -> Run:
    """One operation is one round of the request mix (``inputs.ROUND``), so
    every operation has the same composition of request kinds.  The first
    round runs each query shape cold, as a CLI request does; the window
    holds at least ``MIN_ROUNDS`` rounds, so that the JIT warm-up they
    share is timed whole rather than cut at a point that varies by run.

    Set-up builds the graph ``BUILD_REPEATS`` times into fresh directories
    and counts the median build as its set-up time."""
    run = Run()
    pdf, path, datagen_s = ctx.generate_corpus()
    builds = []
    for i in range(BUILD_REPEATS):
        t0 = time.perf_counter()
        edges_dir = build_graph(ctx, path, f"{ctx.work}/graph-{i}")
        builds.append(time.perf_counter() - t0)
    mix = inputs.RequestMix(ctx.seed)
    run.info.update(datagen_s=datagen_s, turns=len(pdf),
                    conversations=int(pdf["conv_id"].nunique()),
                    graph_builds_s=[round(b, 3) for b in builds])
    if ctx.tracer:
        ctx.tracer.install_browse()
        ctx.counters.collect({})  # everything so far is set-up
    ctx.setup_done(excluded=sum(builds) - statistics.median(builds))

    answers: dict[str, tuple[str, object, list]] = {}
    requests: list[tuple[str, float]] = []
    deadline = time.perf_counter() + ctx.seconds
    while len(run.latencies) < MIN_ROUNDS or time.perf_counter() < deadline:
        first = ctx.tracer.next_id if ctx.tracer else 0
        in_round: list[tuple[str, float]] = []
        t_round = time.perf_counter()
        for kind, key, params in mix.round():
            run.attempted += 1
            rec = ctx.tracer.open(f"request:{kind}", "browse", key=key) if ctx.tracer else None
            t0 = time.perf_counter()
            try:
                got = request(ctx.spark, edges_dir, kind, params)
            except Exception:
                traceback.print_exc()
                run.failed += 1
                continue
            finally:
                if rec is not None:
                    ctx.tracer.close(rec)
            in_round.append((kind, time.perf_counter() - t0))
            answers.setdefault(key, (kind, params, []))[2].append(got)
        run.latencies.append(time.perf_counter() - t_round)
        requests.extend(in_round)
        if ctx.tracer:  # Spark's counters are read after the round's timing
            run.layers.append(ctx.layer_counters(first, {"requests": in_round}))
    walls = [w for _, w in requests]
    p_tail, pct = tail(walls)
    run.info.update(
        request_walls=[(k, round(w, 3)) for k, w in requests],
        requests=len(walls),
        distinct_requests=len(answers),
        request_p50_s=round(statistics.median(walls), 4),
        request_tail_s=round(p_tail, 4),
        request_tail_percentile=pct,
    )
    run.info["num_triples"] = _check_browse(edges_dir, answers)
    return run


def _check_browse(edges_dir: str, answers: dict) -> int:
    """Checks every answer; returns the graph's distinct term rows."""
    oracle = check.BrowseOracle(edges_dir)
    for key, (kind, params, got_list) in answers.items():
        if kind == "facets":
            want = sorted(oracle.facets())
            for got in got_list:
                check._require(sorted(got) == want, "facets differ from DuckDB")
        elif kind == "labels":
            want = sorted(oracle.labels(), key=repr)
            for got in got_list:
                check._require(sorted(got, key=repr) == want, "labels differ from DuckDB")
        elif kind == "search":
            want = oracle.search(params)
            for got in got_list:
                check._require(check.nested_form(got) == want, f"{key} differs from DuckDB")
        else:
            full, limit = oracle.sparql(key)
            for got in got_list:
                check.check_sparql_answer(got, full, limit, key)
    return oracle.rows("SELECT count(*) FROM edges")[0][0]


def browse_layers(rounds: list[dict]) -> dict:
    """Per-layer metrics of the traced browse rounds."""
    by_kind: dict[str, list[float]] = {}
    for op in rounds:
        for kind, wall in op["requests"]:
            by_kind.setdefault(kind, []).append(wall)
    n = max(sum(len(op["requests"]) for op in rounds), 1)

    def per_request(key):
        return sum(sum(c.get(key, 0.0) for c in op["spark"].values()) for op in rounds) / n

    # each request reads the edges table in a storage.read span of its own
    reads: dict[int, float] = {}
    for op in rounds:
        for s in op["spans"]:
            if s["name"] == "storage.read":
                reads[s["parent"]] = reads.get(s["parent"], 0.0) + dur(s)
    return {
        "facets.s": statistics.median(by_kind.get("facets", [0.0])),
        "search.s": statistics.median(by_kind.get("search", [0.0])),
        "sparql.s": statistics.median(by_kind.get("sparql", [0.0])),
        "labels.s": statistics.median(by_kind.get("labels", [0.0])),
        "browse.jobs_per_request": per_request("jobs"),
        "browse.scan_bytes_per_request": per_request("scan_bytes"),
        "browse.shuffle_bytes_per_request": per_request("shuffle_write_bytes"),
        "storage.read_s": statistics.median(reads.values() or [0.0]),
        "session.persisted_rdds": rounds[-1]["persisted_rdds"] if rounds else 0,
        "session.cached_mb": rounds[-1]["cached_mb"] if rounds else 0.0,
    }


WORKLOADS = {"harvest_batch": harvest_batch, "browse": browse}

# per-layer metric -> unit, in the order BENCHMARK.json lists them.  A layer
# a workload does not run reports 0.
PER_LAYER = {
    "session.start_s": "s", "datagen.s": "s",
    "session.peak_rss_mb": "MB", "session.persisted_rdds": "count",
    "session.cached_mb": "MB",
    "extract.s": "s", "extract.rows_out": "count",
    "extract.python_boot_s": "s", "extract.python_init_s": "s",
    "extract.python_s": "s", "extract.python_bytes_in": "bytes",
    "extract.python_bytes_out": "bytes", "extract.python_rows_out": "count",
    "extract.task_skew": "ratio",
    "merge.s": "s", "merge.shuffle_write_bytes": "bytes",
    "merge.spill_bytes": "bytes", "merge.dedup_ratio": "ratio",
    "validate.s": "s", "validate.quarantined": "count",
    "link.s": "s", "link.shuffle_write_bytes": "bytes", "link.candidates": "count",
    "link.pairs_out": "count", "link.verify_ratio": "ratio", "link.task_skew": "ratio",
    "cc.labels_s": "s", "cc.jobs": "count", "cc.canonicalize_s": "s", "cc.nodes_s": "s",
    "export.lineage_s": "s",
    "storage.write_s": "s", "storage.writes": "count", "storage.bytes_written": "bytes",
    "storage.files_written": "count", "storage.read_s": "s",
    "jobs.runlog_s": "s", "jobs.runlog_writes": "count",
    "jobs.snapshot_lookup_s": "s", "jobs.metrics_s": "s",
    "harvest.stage_sum_s": "s", "harvest.unattributed_s": "s",
    "harvest.stage_span_err_s": "s",
    "facets.s": "s", "search.s": "s", "sparql.s": "s", "labels.s": "s",
    "browse.jobs_per_request": "count", "browse.scan_bytes_per_request": "bytes",
    "browse.shuffle_bytes_per_request": "bytes",
    "trace.op_p50_s": "s", "trace.overhead_s": "s", "trace.spans": "count",
}

def per_layer(workload: str, run: Run, ctx: Context, session_s: float) -> dict:
    """Every per-layer metric of a traced run."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    if workload == "harvest_batch":
        out.update({k: statistics.median(op[k] for op in run.layers) for k in run.layers[0]})
    else:
        out.update(browse_layers(run.layers))
    ops = max(len(run.latencies), 1)
    out.update({
        "session.start_s": session_s,
        "datagen.s": run.info["datagen_s"],
        "trace.op_p50_s": statistics.median(run.latencies),
        "trace.overhead_s": ctx.tracer.overhead_s / ops,
        "trace.spans": len(ctx.tracer.spans),
    })
    return out
