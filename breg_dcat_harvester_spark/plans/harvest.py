"""The harvest pipeline — the reference's core job (SURVEY.md §3.1).

``run_harvest`` reproduces run_harvest(sources, ...) (harvest.py:22-66) as a
staged DataFrame DAG with per-stage snapshot checkpoints:

    scan -> extract -> merge -> validate (quarantine, gate) -> link
         -> canonicalize -> materialize(nodes, edges)
         -> num_triples + runs/metrics rows

Every stage runs through ``jobs.StageRunner``.  Stage outputs are
snapshot-committed tables (storage.py); the runs table records each stage's
snapshot id, so a re-run *resumes*: stages whose output snapshot already
exists for this run_id are skipped and their output is read back
(north_rule "resumable from Iceberg snapshot checkpoints").  Run-log rows
cost no Spark job: the driver writes each one as a one-row parquet file and
commits it through the runs table's manifest before the stage goes on.  A
stage's ``rows`` is counted by an ``Observation`` on the stage's own write,
not by re-reading and counting its output.  The final result dict mirrors
the reference job result {"num_triples": N, "sources": [...]}
(harvest.py:57-60) with transcript lineage in place of source dicts.

Validation (``valid_triples``) evaluates its verdicts once:
``conforms_column`` derives them from ``full_shapes_report`` over the
packaged shapes, the ``quarantine`` write materializes them, and both the
valid split and the all-or-nothing gate read the committed quarantine
snapshot (``operators/validate.partition_valid``).

Materialize layout (scale-critical):
* edges are written ``repartition(salted conv_id bucket)`` +
  ``sortWithinPartitions(conv_id, turn_idx)`` (W5 stable-turn-order
  invariant).  The key is ``num_buckets * salt`` salted buckets; the salt
  spreads hot conversations (zipf tail) across them, and on a cluster the
  bucket maps 1:1 onto Iceberg ``bucket(N, conv_id)`` partitioning.  No
  partition count is fixed: the shuffle uses ``spark.sql.shuffle.partitions``
  and AQE coalesces it to the data size, so a small graph is a few files,
  not one per salted bucket.  Every salted bucket still lands in exactly one
  file, sorted.  Nodes are not bucketed.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cc as ccm
from ..operators import link as lnk
from ..operators.extract import extract_edges
from ..operators.merge import merge_triples, num_triples
from ..operators.validate import conforms_column, gate_all_or_nothing, partition_valid
from ..storage import table_for
from .jobs import MetricsLog, StageRunner


@dataclass
class HarvestConfig:
    # names the one extractor boundary (extract.extract_edges' coded
    # mapInArrow); a class constant callers may pass as extract_edges(impl=),
    # not a constructor field
    extract_impl: ClassVar[str] = "arrow"
    out_dir: str
    emit_provenance: bool = True
    link_threshold: float = 0.8
    strict_validation: bool = False
    validation_disabled: bool = False
    all_or_nothing: bool = False  # harvest.py:41-47 semantics when True
    # edges bucket key moduli: num_buckets conv_id buckets, each split into
    # salt sub-buckets for hot conv_ids; the file count is AQE's, not theirs
    num_buckets: int = 32
    salt: int = 4
    # 'transcripts' = the north-star mention-extraction path;
    # 'rdf_docs'    = the reference's literal harvest shape: the input paths
    #                 are RDF documents (xml/turtle/nt/json-ld) parsed by
    #                 sources/rdf_parse under mapInPandas — every downstream
    #                 stage (merge/validate/link/cc/materialize, snapshots,
    #                 resume) is identical.
    source_kind: str = "transcripts"
    extra: dict = field(default_factory=dict)


def _bucketed(df: DataFrame, cfg: HarvestConfig) -> DataFrame:
    """Salted conv_id bucketing + stable within-partition turn order (W5).
    The partition count is left to the session (AQE coalesces it); each
    salted bucket hashes to one shuffle partition, hence one file."""
    bucket = F.pmod(F.hash("conv_id"), F.lit(cfg.num_buckets))
    salt = F.pmod(F.hash("conv_id", "turn_idx"), F.lit(cfg.salt))
    return df.repartition(bucket * cfg.salt + salt).sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def _committed(spark: SparkSession, path: str):
    """A ``partition_valid`` commit: write the frame as a new snapshot of
    the table at ``path`` and return that snapshot read back."""
    tbl = table_for(path)
    return lambda df: tbl.read(spark, tbl.write(df))


def run_harvest(
    spark: SparkSession,
    transcripts_path: str,
    cfg: HarvestConfig,
    run_id: str | None = None,
) -> dict:
    """Execute (or resume) a harvest; returns the job-result dict."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    runner = StageRunner(spark, cfg.out_dir, run_id)

    if cfg.source_kind == "rdf_docs":
        from ..sources.rdf_parse import parse_rdf_docs, read_rdf_documents

        paths = (
            transcripts_path
            if isinstance(transcripts_path, list)
            else [transcripts_path]
        )
        docs = read_rdf_documents(spark, paths)
        edges_raw = runner(
            "edges_raw", lambda: parse_rdf_docs(docs, id_col="source")
        )
    else:
        transcripts = spark.read.parquet(transcripts_path)
        edges_raw = runner(
            "edges_raw",
            lambda: extract_edges(transcripts, emit_provenance=cfg.emit_provenance),
        )
    merged = runner("triples", lambda: merge_triples(edges_raw))

    # one verdict pass: the quarantine write evaluates the verdicts; the
    # gate and the valid split read its committed snapshot
    def _validated():
        verdicts = conforms_column(
            merged, strict=cfg.strict_validation, disabled=cfg.validation_disabled
        )
        valid, quarantine = partition_valid(
            merged, verdicts, _committed(spark, os.path.join(cfg.out_dir, "quarantine"))
        )
        if cfg.all_or_nothing:
            gate_all_or_nothing(quarantine)
        return valid

    valid = runner("valid_triples", _validated)

    # link + CC are their OWN checkpointed stages: both the edges and nodes
    # materializations consume the same snapshot, so the iterative CC loop
    # (the most expensive stage) runs exactly once per run (VERDICT r1
    # §wrong-1 — it used to be recomputed inside each consumer).
    links = runner(
        "links", lambda: lnk.link_pairs(valid, threshold=cfg.link_threshold)
    )
    labels = runner("cc_labels", lambda: ccm.connected_components(links))

    edges_final = runner(
        "edges",
        lambda: ccm.canonicalize_edges(valid, labels).transform(
            lambda d: _bucketed(d, cfg)
        ),
    )
    nodes = runner("nodes", lambda: ccm.build_nodes(valid, labels))

    # north_rule lineage, both flavors:
    # * physical (MetricsLog.record_partitions): rows per committed edges
    #   data file — observability for THIS run's layout;
    # * content-keyed (operators/export.partition_lineage, its own
    #   checkpointed stage): per salted-conv_id-bucket rollup that is
    #   deterministic at any parallelism, so a resumed or re-executed run
    #   must reproduce every row bit-for-bit — the cross-run consistency
    #   probe (asserted in test_storage_plans).
    metricslog = MetricsLog(spark, os.path.join(cfg.out_dir, "metrics"))
    if runner.metrics:  # only on fresh (non-resumed) materialization
        metricslog.record_partitions(run_id, "edges", edges_final)

    from ..operators.export import partition_lineage

    lineage = runner("lineage", lambda: partition_lineage(edges_final))

    n_triples = num_triples(edges_final)
    runner.finish(n_triples)
    return {
        "run_id": run_id,
        "num_triples": n_triples,
        "num_nodes": runner.rows("nodes", nodes),
        "num_lineage_buckets": runner.rows("lineage", lineage),
        "stages": runner.stages(),
    }


def harvest_increment(
    spark: SparkSession,
    base_dir: str,
    new_transcripts_path: str,
    cfg: HarvestConfig,
    run_id: str | None = None,
) -> dict:
    """Fold a shard of NEW transcripts into an existing harvest output.

    Reads the base harvest's materialized stages from ``base_dir``
    (``triples`` / ``valid_triples`` / ``links`` / ``cc_labels``) and writes
    the UPDATED graph under ``cfg.out_dir`` with the same staged-snapshot
    protocol as ``run_harvest`` (each stage checkpointed + resumable).  The
    whole point is the cost model at 10^12-turn scale:

    * extract/merge/validate run on the SHARD (plus the touched-subject
      slice of the base triple set — a semi-join probe, co-located when the
      base is bucketed on subj);
    * linking reads the base only through its band-key index
      (``link.incremental_link_pairs``) and one verify scan;
    * canonicalization folds the shard's link pairs into the existing
      mapping (``cc.incremental_components``) — CC runs on the contracted
      increment-sized merge graph;
    * the base tables are rewritten by map-only passes (anti-join +
      unionByName / broadcast remap); nothing in the base is re-extracted,
      re-hashed, or re-linked.

    Validation is exact, including verdict FLIPS: a touched subject is
    re-validated over its COMBINED triple set (base slice ∪ delta), so an
    entity that gains a mandatory property moves quarantine→valid and one
    that gains a violating triple moves valid→quarantine.

    Precondition (inherited from incremental_link_pairs): add-only entity
    labels — a shard never changes an existing entity's minimum label.
    True by construction for conversation shards here (mention URIs embed
    conv/turn; shared explicit URIs carry stable titles); the
    incremental ≡ batch equality test asserts it on the corpus.
    """
    run_id = run_id or f"inc-{uuid.uuid4().hex[:12]}"
    runner = StageRunner(spark, cfg.out_dir, run_id)

    base_triples = table_for(os.path.join(base_dir, "triples")).read(spark)
    base_valid = table_for(os.path.join(base_dir, "valid_triples")).read(spark)
    base_links = table_for(os.path.join(base_dir, "links")).read(spark)
    base_labels = table_for(os.path.join(base_dir, "cc_labels")).read(spark)

    transcripts = spark.read.parquet(new_transcripts_path)
    inc_triples = runner(
        "inc_triples",
        lambda: merge_triples(
            extract_edges(transcripts, emit_provenance=cfg.emit_provenance)
        ),
    )
    term_cols = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]
    # the genuinely-new triples: anti-join keyed on the full TERM identity
    # (base bucketed on subj on a cluster -> co-located probe).  Lineage
    # semantics are FIRST-SEEN: a triple already in the base keeps the
    # base's (conv_id, turn_idx) even if the shard re-emits it from an
    # earlier-sorting conversation — arrival order, the natural provenance
    # of an incremental pipeline (a batch rebuild would pick the global
    # minimum instead; term sets are identical either way).
    def _delta():
        # NULL-SAFE term equality: lang/dtype are NULL for URIs and plain
        # literals, and an equi-join key never matches NULL — a plain
        # anti-join on the 6 columns would re-admit every such duplicate
        bt = base_triples.select(*term_cols)
        cond = None
        for c in term_cols:
            e = inc_triples[c].eqNullSafe(bt[c])
            cond = e if cond is None else (cond & e)
        return inc_triples.join(bt, cond, "left_anti")

    delta = runner("delta_triples", _delta)
    touched = delta.select("subj").distinct()

    # the combined triple set of every touched subject (terms are disjoint
    # between the base slice and the delta by construction of the anti-join)
    def _touched_slice():
        base_slice = base_triples.join(touched, "subj", "left_semi")
        return base_slice.unionByName(delta)

    touched_slice = runner("touched_slice", _touched_slice)

    merged = runner("triples", lambda: base_triples.unionByName(delta))

    # re-validate ONLY touched subjects, over their combined triple set;
    # sh:class values are looked up in the whole graph
    def _updated_valid():
        verdicts = conforms_column(
            touched_slice,
            strict=cfg.strict_validation,
            disabled=cfg.validation_disabled,
            type_edges=merged,
        )
        # updated quarantine: untouched base verdicts carry over, touched
        # subjects get their re-validated rows (verdict flips included)
        base_quarantine = table_for(os.path.join(base_dir, "quarantine")).read(
            spark
        )
        commit = _committed(spark, os.path.join(cfg.out_dir, "quarantine"))
        valid_touched, _ = partition_valid(
            touched_slice,
            verdicts,
            lambda q: commit(
                base_quarantine.join(touched, "subj", "left_anti").unionByName(q)
            ),
        )
        kept = base_valid.join(touched, "subj", "left_anti")
        return kept.unionByName(valid_touched)

    valid = runner("valid_triples", _updated_valid)

    def _updated_links():
        valid_touched = valid.join(touched, "subj", "left_semi")
        inc_links = lnk.incremental_link_pairs(
            valid_touched,
            base_valid,
            threshold=cfg.link_threshold,
        )
        kept = (
            base_links.join(
                touched.select(F.col("subj").alias("a")), "a", "left_anti"
            ).join(touched.select(F.col("subj").alias("b")), "b", "left_anti")
        ).select("entity_type", "a", "b", "g_inter", "g_union")
        return kept.unionByName(inc_links).distinct()

    links = runner("links", _updated_links)

    def _updated_labels():
        new_pairs = links.join(
            base_links.select("entity_type", "a", "b"),
            ["entity_type", "a", "b"],
            "left_anti",
        ).select("a", "b")
        return ccm.incremental_components(base_labels, new_pairs)

    labels = runner("cc_labels", _updated_labels)

    edges_final = runner(
        "edges",
        lambda: ccm.canonicalize_edges(valid, labels).transform(
            lambda d: _bucketed(d, cfg)
        ),
    )
    nodes = runner("nodes", lambda: ccm.build_nodes(valid, labels))

    from ..operators.export import partition_lineage

    lineage = runner("lineage", lambda: partition_lineage(edges_final))

    n_triples = num_triples(edges_final)
    runner.finish(n_triples)
    return {
        "run_id": run_id,
        "num_triples": n_triples,
        "num_nodes": runner.rows("nodes", nodes),
        "num_lineage_buckets": runner.rows("lineage", lineage),
        "stages": runner.stages(),
    }
