"""Incremental harvest via Structured Streaming (T1/T2 analogs).

The reference re-harvests on an APScheduler interval (scheduler.py:25,74-82)
with coalesced missed runs and max one concurrent job (scheduler.py:135-138).
The Spark-native equivalent is ``readStream`` over the transcripts table with
``Trigger.AvailableNow``: each activation drains exactly the new files once,
checkpoint state guarantees no re-processing (the reference's ``coalesce:
True`` / single-instance semantics fall out of exactly-once sinks), and a
cadence daemon (cron / Airflow / scheduler.py analog) re-activates it.

The sink is foreachBatch -> set-semantics MERGE into the snapshot table
(idempotent under replays: merge_triples dedupes on (subj,pred,obj)).

``with_watermark_dedup`` shows the optional event-time path: late-arriving
duplicate turns within the watermark collapse before extraction — not needed
for batch parity (the reference has no streaming dataflow) but the natural
extension for continuously-ingested transcripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_edges
from ..operators.merge import merge_triples
from ..schema import TRANSCRIPTS
from ..storage import LocalSnapshotTable


def incremental_harvest(
    spark: SparkSession,
    transcripts_dir: str,
    out_table: str,
    checkpoint_dir: str,
) -> int:
    """Drain all currently-available new transcript files into the edge
    table; returns the number of micro-batches processed."""
    table = LocalSnapshotTable(out_table)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        edges = merge_triples(extract_edges(batch_df))
        table.write(edges, mode="append")
        n_batches["n"] += 1

    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .parquet(transcripts_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    return n_batches["n"]


def with_watermark_dedup(transcripts: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Event-time dedup of late duplicate turns (optional streaming path)."""
    return transcripts.withWatermark("ts", delay).dropDuplicates(
        ["conv_id", "turn_idx"]
    )


def read_merged(spark: SparkSession, out_table: str) -> DataFrame:
    """Merged view across all appended micro-batch snapshots (set semantics)."""
    return merge_triples(LocalSnapshotTable(out_table).read(spark))
