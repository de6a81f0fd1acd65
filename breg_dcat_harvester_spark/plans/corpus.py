"""The training-corpus curation pipeline — the documents-side twin of
``plans/harvest.py::run_harvest``.

``run_curation`` composes the training-data operator family into ONE staged
DataFrame DAG with per-stage snapshot checkpoints and the same resume
protocol as the harvest (north_rule: resumable from snapshot checkpoints,
per-partition lineage + metrics):

    decisions -> selected -> packing -> pack_segments -> shards
              -> shard_stats + runs/metrics rows

* ``decisions``     — one auditable curation row per input document
  (``curation.curate_corpus``: canonical near-dup verdict, integer-exact
  quality gate, stratified sampling bucket, optional benchmark
  decontamination flag).
* ``selected``      — the surviving documents (semi-join on the decision
  rows; full text carried forward exactly once).
* ``packing``       — concatenate-and-cut LM packing placement via the
  distributed prefix sum (``packing.pack_sequences``).
* ``pack_segments`` — the per-pack segment table a training reader consumes
  (``packing.pack_manifest``).
* ``shards``        — deterministic training-order shuffle
  (``packing.shuffle_shards``: sha256 shard bucket + within-shard hash
  order, map-only, resume-stable) and ``shard_stats`` its manifest.

Every stage commits a snapshot table under ``cfg.out_dir`` and records its
snapshot id in the runs registry; a re-run with the same ``run_id`` reads
completed stages back instead of recomputing (pytest-gated, like the
harvest resume).  At 10^12-turn scale each arrow is one job whose
restart cost is bounded by its own stage, not the pipeline.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import curate_corpus
from ..operators.packing import (
    pack_manifest,
    pack_sequences,
    shard_manifest,
    shuffle_shards,
)
from .jobs import MetricsLog, StageRunner


@dataclass
class CurationConfig:
    out_dir: str
    rates: dict[str, int] = field(default_factory=lambda: {"en": 1000})
    default_rate: int = 0
    dedup_threshold: float = 0.8
    min_tokens: int = 20
    max_tokens: int = 1_000_000
    min_alpha_per_mille: int = 820
    seq_len: int = 512
    n_shards: int = 32
    decontam_ngram: int = 8
    extra: dict = field(default_factory=dict)


def run_curation(
    spark: SparkSession,
    docs_path: str,
    cfg: CurationConfig,
    run_id: str | None = None,
    benchmark: DataFrame | None = None,
) -> dict:
    """Execute (or resume) the curation pipeline; returns the job-result
    dict with per-stage rows/seconds and the final shard statistics."""
    run_id = run_id or f"cur-{uuid.uuid4().hex[:12]}"
    runner = StageRunner(spark, cfg.out_dir, run_id)

    docs = spark.read.parquet(docs_path)

    decisions = runner(
        "decisions",
        lambda: curate_corpus(
            docs,
            rates=cfg.rates,
            threshold=cfg.dedup_threshold,
            min_tokens=cfg.min_tokens,
            max_tokens=cfg.max_tokens,
            min_alpha_per_mille=cfg.min_alpha_per_mille,
            default_rate=cfg.default_rate,
            benchmark=benchmark,
            decontam_ngram=cfg.decontam_ngram,
        ),
    )

    selected = runner(
        "selected",
        lambda: docs.join(
            decisions.filter(F.col("selected")).select("doc_id"),
            "doc_id",
            "left_semi",
        ),
    )

    packing = runner(
        "packing", lambda: pack_sequences(selected, seq_len=cfg.seq_len)
    )
    segments = runner(
        "pack_segments", lambda: pack_manifest(packing, seq_len=cfg.seq_len)
    )
    shards = runner(
        "shards", lambda: shuffle_shards(selected, n_shards=cfg.n_shards)
    )
    shard_stats = runner("shard_stats", lambda: shard_manifest(shards))

    # lineage is keyed to the run: write it whenever THIS run_id has no
    # partitions row yet (not merely when some stage ran fresh — a crash
    # between the last stage commit and this write must be repairable by
    # resume, else the run's shard lineage is lost forever)
    metricslog = MetricsLog(spark, os.path.join(cfg.out_dir, "metrics"))
    have_lineage = metricslog.table.exists() and (
        metricslog.read()
        .filter((F.col("run_id") == run_id) & (F.col("stage") == "shards"))
        .limit(1)
        .count()
        > 0
    )
    if not have_lineage:
        metricslog.record_partitions(run_id, "shards", shards)

    n_input = runner.rows("decisions", docs)  # one decision row per input doc
    n_selected = runner.rows("selected", selected)
    runner.finish(n_selected)
    return {
        "run_id": run_id,
        "num_input_docs": n_input,
        "num_selected": n_selected,
        "num_packs": segments.select("stratum", "pack_id").distinct().count(),
        "num_shards": runner.rows("shard_stats", shard_stats),
        "stages": runner.stages(),
    }
