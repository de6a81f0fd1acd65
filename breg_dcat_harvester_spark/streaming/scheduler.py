"""Recurring-cadence harvest driver (T1/T2/T4 — SURVEY.md §2.10).

The reference schedules re-harvests with APScheduler interval triggers
(scheduler.py:25,74-82: ``IntervalTrigger(seconds=interval)`` from a base
date), coalesces missed runs (``coalesce=True, max_instances=1``,
scheduler.py:135-138) and enqueues each run with an RQ per-job timeout
(jobs_queue.py:8-20 ``job_timeout``; scheduler.py:123-156).

Spark-native equivalents:
* cadence     — ``next_fire_date`` (plans/jobs.py, parity-exact interval
  math) drives a loop around ``incremental_harvest``;
* coalescing  — however many intervals elapsed while down, ONE
  Trigger.AvailableNow drain catches up (checkpoint state guarantees
  exactly-once), reproducing coalesce=True by construction;
* max one instance — the loop is sequential; a second scheduler on the same
  checkpoint dir would fail Spark's streaming-checkpoint lock;
* T4 job timeout — each run executes in a worker thread under a Spark job
  group; on expiry the group is cancelled (``interruptOnCancel``) and the
  run raises TimeoutError, mirroring RQ's job_timeout kill.

The clock is injectable (``now_fn``/``sleep_fn``) so pytest drives
missed-run and timeout scenarios without wall-clock sleeps.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
from typing import Callable

from pyspark.sql import SparkSession

from ..plans.jobs import next_fire_date
from ..storage import LocalSnapshotTable
from .incremental import incremental_harvest


def run_with_timeout(
    spark: SparkSession, fn: Callable[[], object], timeout_seconds: float | None,
    group: str
):
    """Run ``fn`` under a Spark job group, cancelling the group's jobs and
    raising TimeoutError if it exceeds ``timeout_seconds`` (T4)."""
    if not timeout_seconds:
        return fn()
    box: dict = {}

    def target():
        spark.sparkContext.setJobGroup(group, "scheduled harvest",
                                       interruptOnCancel=True)
        try:
            box["out"] = fn()
        except Exception as ex:  # surfaced to the caller below
            box["err"] = ex

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(timeout_seconds)
    if th.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        th.join(10)
        raise TimeoutError(
            f"harvest run exceeded {timeout_seconds}s (job group {group} cancelled)"
        )
    if "err" in box:
        raise box["err"]
    return box.get("out")


def run_scheduled_harvests(
    spark: SparkSession,
    transcripts_dir: str,
    out_table: str,
    checkpoint_dir: str,
    interval_seconds: int,
    base_date: dt.datetime | None = None,
    max_runs: int = 1,
    job_timeout_seconds: float | None = None,
    expire_keep: int | None = None,
    now_fn: Callable[[], dt.datetime] | None = None,
    sleep_fn: Callable[[float], None] | None = None,
) -> list[dict]:
    """Drive ``max_runs`` scheduled incremental harvests; returns one record
    per run {fire_at, batches, seconds[, expired_snapshots]}.

    A base_date in the past triggers exactly ONE immediate catch-up drain
    (missed-run coalescing), then the cadence continues from the computed
    fire date — the reference's coalesce=True semantics.
    """
    now_fn = now_fn or (
        lambda: dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    )
    sleep_fn = sleep_fn or time.sleep
    base = base_date or now_fn()
    records: list[dict] = []
    for i in range(max_runs):
        now = now_fn()
        if now >= base:
            # one or more boundaries already passed -> ONE immediate
            # catch-up run (coalesce=True semantics)
            fire = now
        else:
            fire = base
            sleep_fn((base - now).total_seconds())
        t0 = time.time()
        n_batches = run_with_timeout(
            spark,
            lambda: incremental_harvest(
                spark, transcripts_dir, out_table, checkpoint_dir
            ),
            job_timeout_seconds,
            group=f"sched-harvest-{i}",
        )
        rec = {
            "fire_at": fire.isoformat(),
            "batches": n_batches,
            "seconds": round(time.time() - t0, 3),
        }
        if expire_keep:
            rec["expired_snapshots"] = LocalSnapshotTable(out_table).expire_snapshots(
                expire_keep
            )
        records.append(rec)
        # next fire = first interval boundary strictly after this run,
        # boundaries staying aligned to the original base (interval-trigger
        # semantics, scheduler.py:159-169 math)
        base = next_fire_date(
            base, interval_seconds, fire + dt.timedelta(microseconds=1)
        )
    return records
