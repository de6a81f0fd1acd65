"""Scheduler control loop (T1/T2/T4/T5): cadence math, missed-run
coalescing, per-run timeout, snapshot expiry."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators.extract import extract_edges
from breg_dcat_harvester_spark.operators.merge import merge_triples
from breg_dcat_harvester_spark.storage import LocalSnapshotTable
from breg_dcat_harvester_spark.streaming.incremental import read_merged
from breg_dcat_harvester_spark.streaming.scheduler import (
    run_scheduled_harvests,
    run_with_timeout,
)


class FakeClock:
    def __init__(self, start: dt.datetime):
        self.now = start
        self.sleeps: list[float] = []

    def now_fn(self) -> dt.datetime:
        return self.now

    def sleep_fn(self, seconds: float) -> None:
        self.sleeps.append(seconds)
        self.now += dt.timedelta(seconds=seconds)


@pytest.mark.slow
def test_missed_runs_coalesce_to_one_catchup(spark, tmp_path, small_transcripts):
    """Base date far in the past -> exactly ONE immediate catch-up drain
    that processes everything outstanding (coalesce=True semantics)."""
    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)
    out = str(tmp_path / "edges_stream")
    ckpt = str(tmp_path / "ckpt")

    clock = FakeClock(dt.datetime(2026, 1, 10, 12, 0, 0))
    base = dt.datetime(2026, 1, 1, 0, 0, 0)  # ~228 missed hourly boundaries
    recs = run_scheduled_harvests(
        spark, src, out, ckpt, interval_seconds=3600, base_date=base,
        max_runs=1, now_fn=clock.now_fn, sleep_fn=clock.sleep_fn,
    )
    assert len(recs) == 1
    assert clock.sleeps == []  # catch-up fired immediately, no waiting
    assert recs[0]["batches"] >= 1
    got = read_merged(spark, out).count()
    want = merge_triples(extract_edges(small_transcripts)).count()
    assert got == want

    # second tick: nothing new -> drains zero-row batch or none; cadence
    # waited for the NEXT boundary aligned to base (not to the catch-up run)
    recs2 = run_scheduled_harvests(
        spark, src, out, ckpt, interval_seconds=3600,
        base_date=dt.datetime(2026, 1, 10, 13, 0, 0),
        max_runs=1, now_fn=clock.now_fn, sleep_fn=clock.sleep_fn,
    )
    assert len(recs2) == 1 and clock.sleeps and clock.sleeps[0] > 0
    assert read_merged(spark, out).count() == want  # exactly-once: no dupes


def test_run_with_timeout_cancels_stuck_job(spark):
    """T4: a run exceeding its budget is cancelled and raises TimeoutError."""
    from pyspark.sql.types import LongType

    @F.udf(LongType())
    def slow(x):
        import time as _t

        _t.sleep(30)
        return x

    def stuck():
        # aggregate over the UDF output so column pruning can't skip it
        return spark.range(8).select(slow("id").alias("s")).agg(
            F.sum("s")
        ).collect()

    with pytest.raises(TimeoutError, match="cancelled"):
        run_with_timeout(spark, stuck, timeout_seconds=3, group="t4-test")
    # the session survives and runs normal jobs afterwards
    assert spark.range(5).count() == 5


def test_run_with_timeout_passthrough(spark):
    assert run_with_timeout(spark, lambda: 7, None, "g") == 7
    assert run_with_timeout(spark, lambda: 7, 30, "g") == 7
    with pytest.raises(ValueError, match="boom"):
        run_with_timeout(spark, lambda: (_ for _ in ()).throw(ValueError("boom")),
                         30, "g")


def test_expire_snapshots_ttl(spark, tmp_path):
    """T5: only the newest keep_n snapshots survive; their files stay
    readable; orphaned data files are deleted from disk."""
    import os

    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    sids = []
    for i in range(5):
        sids.append(tbl.write(spark.range(i + 1).withColumnRenamed("id", "x")))
    n_files_before = len(os.listdir(tbl.data_dir))
    expired = tbl.expire_snapshots(keep_n=2)
    assert expired == sids[:3]
    assert {s["id"] for s in tbl.snapshots()} == set(sids[3:])
    assert len(os.listdir(tbl.data_dir)) < n_files_before
    assert tbl.read(spark).count() == 5  # current snapshot intact
    assert tbl.read(spark, sids[3]).count() == 4
    with pytest.raises(FileNotFoundError):
        tbl.read(spark, sids[0])
    # current pointer is always retained even if older than keep_n window
    tbl.rollback(sids[3])
    tbl.write(spark.range(9).withColumnRenamed("id", "x"))
    tbl.rollback(sids[3])
    tbl.expire_snapshots(keep_n=1)
    assert tbl.read(spark).count() == 4
