"""Job control plane — runs registry, stage runner, metrics (SURVEY.md
§2.1 S12, §2.4 A7, §2.5 W2/W3).

The reference tracks jobs in RQ/Redis registries partitioned by status
(finished/failed/scheduled/started, harvest.py:158-193) with job dicts
{job_id, status, enqueued_at, started_at, ended_at, description, result,
exc_info} (utils.py:32-48) and tail-N listing per registry
(``get_job_ids(start=-num)``, harvest.py:146-155).

Ours is a runs *table*: one row per (run_id, stage, status transition).
Like a Redis registry push, a transition costs no cluster work: the driver
writes its row as a one-row parquet file with pyarrow and commits it with
the table's manifest commit (``LocalSnapshotTable.commit``), before the
stage goes on.  ``MetricsLog`` commits its rows the same way.  The resume
lookup (``snapshot_for``) reads the current snapshot's files on the driver
too.  Spark reads the same table for the
registry views: listing = groupBy(status) + row_number window (W2); job
JSON = the latest row per (run_id, stage).

``StageRunner`` runs the checkpointed stages of one pipeline run (harvest
or increment).  A stage's row count is a ``pyspark.sql.Observation``
on the DataFrame being written, so it rides the stage's write job instead
of a re-read and ``count()``.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..storage import LocalSnapshotTable, table_for

# event_at is written as a UTC timestamp, so Spark reads it as `timestamp`
_RUNS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("status", StringType()),
        StructField("event_at", TimestampType()),
        StructField("num_triples", LongType()),
        StructField("snapshot_id", StringType()),
        StructField("exc_info", StringType()),
    ]
)

_METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("rows_out", LongType()),
    ]
)


def _append_rows(table: LocalSnapshotTable, schema: StructType, columns: dict) -> None:
    """Append rows from the driver: pyarrow writes them as one parquet file
    in the table's ``data_dir`` and the manifest commit makes them visible
    (an uncommitted file is never read).  No Spark job runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    name = f"{uuid.uuid4().hex}.parquet"
    pq.write_table(
        pa.Table.from_pydict(columns, schema=to_arrow_schema(schema)),
        os.path.join(table.data_dir, name),
    )
    table.commit([name], mode="append", schema=schema)


class RunLog:
    """Append-only runs table with snapshot-checkpoint lookups."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LocalSnapshotTable(path)

    def record(
        self,
        run_id: str,
        stage: str,
        status: str,
        snapshot_id: str | None = None,
        num_triples: int | None = None,
        exc_info: str | None = None,
    ) -> None:
        """Append one transition and commit it before returning."""
        _append_rows(self.table, _RUNS_SCHEMA, {
            "run_id": [run_id],
            "stage": [stage],
            "status": [status],
            "event_at": [dt.datetime.now(dt.timezone.utc)],
            "num_triples": [num_triples],
            "snapshot_id": [snapshot_id],
            "exc_info": [exc_info],
        })

    def read(self) -> DataFrame:
        if not self.table.exists():
            return self.spark.createDataFrame([], _RUNS_SCHEMA)
        return self.table.read(self.spark)

    def snapshot_for(self, run_id: str, stage: str) -> str | None:
        """Resume lookup: the snapshot id of a finished stage of this run,
        answered on the driver from the current snapshot's files."""
        if not self.table.exists():
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        utc = pa.timestamp("us", tz="UTC")
        best_at, best_sid = None, None
        for path in self.table.files():
            t = pq.read_table(
                path,
                columns=["event_at", "snapshot_id"],
                filters=[
                    ("run_id", "=", run_id),
                    ("stage", "=", stage),
                    ("status", "=", "finished"),
                ],
            )
            # Spark-written files hold event_at as a naive INT96 UTC value
            for at, sid in zip(
                t["event_at"].cast(utc).to_pylist(), t["snapshot_id"].to_pylist()
            ):
                if best_at is None or at >= best_at:
                    best_at, best_sid = at, sid
        return best_sid


class StageRunner:
    """Runs the checkpointed stages of one pipeline run.

    ``runner(name, builder)`` writes ``builder()`` as a new snapshot of the
    table ``<out_dir>/<name>`` and returns the snapshot re-read, so
    downstream stages read the checkpoint.  If this ``run_id`` already
    finished the stage, its snapshot is read back and nothing runs.  Each
    fresh stage records ``started`` then ``finished`` (or ``failed``) in the
    runs table, and appends ``(name, rows, seconds)`` to ``metrics``; rows
    are counted by an ``Observation`` on the write.
    """

    def __init__(self, spark: SparkSession, out_dir: str, run_id: str):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.runlog = RunLog(spark, os.path.join(out_dir, "runs"))
        self.metrics: list[tuple[str, int, float]] = []

    def __call__(self, name: str, builder: Callable[[], DataFrame]) -> DataFrame:
        tbl = table_for(os.path.join(self.out_dir, name))
        prior = self.runlog.snapshot_for(self.run_id, name)
        if prior:
            return tbl.read(self.spark, prior)
        t0 = time.time()
        self.runlog.record(self.run_id, name, "started")
        try:
            obs = Observation()
            sid = tbl.write(
                builder().observe(obs, F.count(F.lit(1)).alias("rows")),
                mode="overwrite",
            )
            out = tbl.read(self.spark, sid)
            n = obs.get["rows"]
            self.metrics.append((name, n, time.time() - t0))
            self.runlog.record(
                self.run_id, name, "finished", snapshot_id=sid, num_triples=n
            )
            return out
        except Exception as ex:
            self.runlog.record(self.run_id, name, "failed", exc_info=repr(ex))
            raise

    def rows(self, name: str, df: DataFrame) -> int:
        """Rows of a stage's output: observed if it ran in this call,
        counted from ``df`` (its read-back snapshot) if it was resumed."""
        for stage, n, _ in self.metrics:
            if stage == name:
                return n
        return df.count()

    def stages(self) -> list[dict]:
        """The result dict's per-stage list (fresh stages only)."""
        return [
            {"stage": s, "rows": n, "seconds": round(secs, 3)}
            for s, n, secs in self.metrics
        ]

    def finish(self, num_triples: int) -> None:
        """Record the whole run as finished."""
        self.runlog.record(self.run_id, "job", "finished", num_triples=num_triples)


def next_fire_date(
    base: dt.datetime, interval_seconds: int, now: dt.datetime
) -> dt.datetime:
    """F6 parity — scheduler.py:159-169: the next interval boundary after
    ``now``, computed by ceiling-division from the trigger's base date."""
    if now <= base:
        return base
    import math

    elapsed = (now - base).total_seconds()
    periods = math.ceil(elapsed / interval_seconds)
    return base + dt.timedelta(seconds=periods * interval_seconds)


class MetricsLog:
    """Per-partition stage metrics (A9): one row per (run, stage, partition),
    where a partition is one committed data file of the stage's output."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.table = LocalSnapshotTable(path)

    def record_partitions(self, run_id: str, stage: str, df: DataFrame) -> None:
        """Rows per data file of ``df``, a stage's read-back snapshot.
        ``partition_id`` is the file's index in sorted path order; the rows
        come from each file's parquet footer, on the driver."""
        import pyarrow.parquet as pq
        from urllib.parse import unquote, urlparse

        files = sorted(df.inputFiles())
        _append_rows(self.table, _METRICS_SCHEMA, {
            "run_id": [run_id] * len(files),
            "stage": [stage] * len(files),
            "partition_id": list(range(len(files))),
            "rows_out": [
                pq.read_metadata(unquote(urlparse(f).path)).num_rows for f in files
            ],
        })

    def read(self) -> DataFrame:
        return self.table.read(self.spark)


def registry_tail(runs: DataFrame, num: int = 10) -> DataFrame:
    """A7/W2: last ``num`` runs per status registry, newest first — the
    GET /api/harvest/source/jobs semantics (harvest.py:146-193)."""
    w = Window.partitionBy("status").orderBy(F.desc("event_at"), F.desc("run_id"))
    return (
        runs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= num)
        .drop("rn")
    )


def job_json(runs: DataFrame) -> DataFrame:
    """utils.py:32-48 shape: latest status per (run_id, stage) with ISO
    datetimes, as a JSON string column."""
    w = Window.partitionBy("run_id", "stage").orderBy(F.desc("event_at"))
    latest = runs.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    return latest.select(
        F.to_json(
            F.struct(
                F.col("run_id").alias("job_id"),
                "stage",
                "status",
                F.date_format("event_at", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "ended_at"
                ),
                "num_triples",
                "exc_info",
            )
        ).alias("job")
    )
