"""Snapshot storage semantics + harvest plan resume equivalence
(SURVEY.md §5.2-5.3: resume-from-checkpoint equivalence, job registries)."""

import datetime as dt
import json
import os
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest
from breg_dcat_harvester_spark.plans.jobs import (
    RunLog,
    StageRunner,
    job_json,
    registry_tail,
)
from breg_dcat_harvester_spark.storage import LocalSnapshotTable


def test_snapshot_append_overwrite_rollback(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    s1 = tbl.write(df1, mode="overwrite")
    assert tbl.read(spark).count() == 5
    s2 = tbl.write(spark.range(3).withColumnRenamed("id", "x"), mode="append")
    assert tbl.read(spark).count() == 8
    # snapshot isolation: old snapshot still readable
    assert tbl.read(spark, s1).count() == 5
    tbl.rollback(s1)
    assert tbl.read(spark).count() == 5
    assert tbl.current_snapshot() == s1
    s3 = tbl.write(spark.range(1).withColumnRenamed("id", "x"), mode="overwrite")
    assert tbl.read(spark).count() == 1
    assert {s["id"] for s in tbl.snapshots()} == {s1, s2, s3}


_LEGACY_RUNS_DDL = (
    "run_id string, stage string, status string, event_at timestamp, "
    "num_triples long, snapshot_id string, exc_info string"
)


def _record_with_spark(spark, log, run_id, stage, status, snapshot_id):
    """A runs row written the way RunLog.record wrote it before rows were
    committed from the driver: a Spark DataFrame through
    LocalSnapshotTable.write (so event_at is stored as Spark's INT96)."""
    row = (run_id, stage, status,
           dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
           None, snapshot_id, None)
    log.table.write(spark.createDataFrame([row], _LEGACY_RUNS_DDL), mode="append")


def test_runlog_and_registries(spark, tmp_path):
    log = RunLog(spark, str(tmp_path / "runs"))
    for i in range(3):
        log.record(f"r{i}", "extract", "started")
        log.record(f"r{i}", "extract", "finished", snapshot_id=f"s{i}", num_triples=i)
    log.record("r9", "extract", "failed", exc_info="boom")
    runs = log.read()
    tail = registry_tail(runs, num=2)
    by_status = {
        r.status: r.cnt
        for r in tail.groupBy("status").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_status == {"started": 2, "finished": 2, "failed": 1}
    assert log.snapshot_for("r1", "extract") == "s1"
    assert log.snapshot_for("r9", "extract") is None
    jobs = job_json(runs).collect()
    assert any('"status":"failed"' in r.job for r in jobs)

    # a runs table that already holds Spark-written rows keeps working after
    # rows are appended from the driver: Spark reads, the registry views and
    # the resume lookup all see one table, in event order
    log = RunLog(spark, str(tmp_path / "runs_spark_written"))
    events = [
        ("old", "extract", "started", None),
        ("old", "extract", "finished", "s-old"),
        ("mix", "extract", "started", None),
        ("mix", "extract", "finished", "s-mix-1"),
    ]
    for run_id, stage, status, sid in events:
        _record_with_spark(spark, log, run_id, stage, status, sid)
    new_events = [
        ("mix", "extract", "started", None),
        ("mix", "extract", "finished", "s-mix-2"),
        ("new", "extract", "started", None),
        ("new", "extract", "failed", None),
    ]
    for run_id, stage, status, sid in new_events:
        log.record(run_id, stage, status, snapshot_id=sid)

    runs = log.read()
    assert dict(runs.dtypes)["event_at"] == "timestamp"
    ordered = [
        (r.run_id, r.stage, r.status, r.snapshot_id)
        for r in runs.orderBy("event_at").collect()
    ]
    assert ordered == events + new_events

    # resume lookup: Spark-written, mixed (the newer driver row wins) and
    # never-finished runs
    assert log.snapshot_for("old", "extract") == "s-old"
    assert log.snapshot_for("mix", "extract") == "s-mix-2"
    assert log.snapshot_for("new", "extract") is None
    # the Spark views agree with the driver-side lookup
    top = registry_tail(runs, num=1).collect()
    assert {(r.status, r.run_id, r.snapshot_id) for r in top} == {
        ("started", "new", None),
        ("finished", "mix", "s-mix-2"),
        ("failed", "new", None),
    }
    latest = {
        (j["job_id"], j["stage"]): j["status"]
        for j in (json.loads(r.job) for r in job_json(runs).collect())
    }
    assert latest == {
        ("old", "extract"): "finished",
        ("mix", "extract"): "finished",
        ("new", "extract"): "failed",
    }


def test_failed_write_leaves_no_staging(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    sid = tbl.write(spark.range(3).withColumnRenamed("id", "x"))
    files = sorted(os.listdir(tbl.data_dir))
    # fails inside the write job, after tasks have opened staging files
    bad = spark.range(6).select(
        F.when(F.col("id") < 3, F.col("id"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        tbl.write(bad, mode="append")
    assert [n for n in os.listdir(tbl.path) if n.startswith("_staging-")] == []
    assert [s["id"] for s in tbl.snapshots()] == [sid]
    assert sorted(os.listdir(tbl.data_dir)) == files
    assert tbl.read(spark).count() == 3


def test_stage_runner_counts_empty_outputs(spark, tmp_path):
    """An empty stage output records rows == 0 and a finished row, for a
    filter that keeps nothing and for a join AQE prunes to empty."""
    runner = StageRunner(spark, str(tmp_path / "out"), "run-e")
    left = spark.range(100).withColumnRenamed("id", "k")
    builders = {
        "filtered": lambda: left.filter("k < 0"),
        "joined": lambda: left.repartition(4).join(
            left.filter("k < 0").repartition(4), "k"
        ),
    }
    for name, builder in builders.items():
        # a daemon thread, so that a hung Observation fails the test instead
        # of hanging the suite
        done = []
        t = threading.Thread(
            target=lambda n, b: done.append(runner(n, b)),
            args=(name, builder),
            daemon=True,
        )
        t.start()
        t.join(timeout=300)
        assert not t.is_alive() and len(done) == 1, f"stage {name} did not finish"
        assert done[0].count() == 0
    assert [(s["stage"], s["rows"]) for s in runner.stages()] == [
        ("filtered", 0), ("joined", 0),
    ]
    finished = {
        r.stage: r.num_triples
        for r in runner.runlog.read().filter("status = 'finished'").collect()
    }
    assert finished == {"filtered": 0, "joined": 0}


@pytest.mark.slow
def test_harvest_run_and_resume(spark, tmp_path, small_transcripts):
    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)

    cfg = HarvestConfig(out_dir=str(tmp_path / "out"))
    res1 = run_harvest(spark, src, cfg, run_id="run-a")
    assert res1["num_triples"] > 0
    assert [s["stage"] for s in res1["stages"]] == [
        "edges_raw", "triples", "valid_triples", "links", "cc_labels",
        "edges", "nodes", "lineage",
    ]

    # link+CC must run exactly ONCE per run: both edges and nodes consume
    # the checkpointed cc_labels snapshot (VERDICT r1 §wrong-1 regression)
    runlog = RunLog(spark, os.path.join(cfg.out_dir, "runs"))
    cc_rows = (
        runlog.read()
        .filter((F.col("run_id") == "run-a") & (F.col("stage") == "cc_labels"))
        .collect()
    )
    assert [r.status for r in cc_rows].count("finished") == 1

    # resume: same run_id -> every stage skipped (no new stage metrics),
    # identical result
    res2 = run_harvest(spark, src, cfg, run_id="run-a")
    assert res2["num_triples"] == res1["num_triples"]
    assert res2["stages"] == []  # all stages resumed from snapshots

    # fresh run id recomputes but matches (determinism)
    res3 = run_harvest(spark, src, cfg, run_id="run-b")
    assert res3["num_triples"] == res1["num_triples"]

    # stable turn ordering invariant (W5): every edges data file is sorted
    # by (conv_id, turn_idx), each salted bucket key lives in exactly one
    # file, and AQE keeps the file count within the shuffle partitions
    edges_tbl = LocalSnapshotTable(os.path.join(cfg.out_dir, "edges"))
    edges = edges_tbl.read(spark)
    assert edges.count() >= res1["num_triples"]
    files = edges_tbl.files()
    for path in files:
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        order = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert order == sorted(order), path
    key = F.pmod(F.hash("conv_id"), F.lit(cfg.num_buckets)) * cfg.salt + F.pmod(
        F.hash("conv_id", "turn_idx"), F.lit(cfg.salt)
    )
    files_per_key = (
        edges.select(key.alias("key"), F.input_file_name().alias("f"))
        .distinct()
        .groupBy("key")
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    assert files_per_key == 1
    assert len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))

    # content-keyed lineage is the cross-run consistency probe: the fresh
    # run-b must reproduce run-a's bucket rollup BIT-FOR-BIT, and the
    # resumed run reads it back unchanged
    assert res1["num_lineage_buckets"] == res3["num_lineage_buckets"]
    lineage_a = LocalSnapshotTable(os.path.join(cfg.out_dir, "lineage")).read(spark)
    rows = {tuple(r) for r in lineage_a.collect()}
    from breg_dcat_harvester_spark.operators.export import partition_lineage

    recomputed = {tuple(r) for r in partition_lineage(edges.repartition(7)).collect()}
    assert rows == recomputed


@pytest.mark.slow
def test_harvest_resumes_after_failed_stage(spark, tmp_path, small_transcripts, monkeypatch):
    """A stage that raises records a failed row; re-running the same run_id
    resumes at that stage and produces a fresh run's graph."""
    from breg_dcat_harvester_spark.operators import link as lnk

    src = str(tmp_path / "transcripts")
    small_transcripts.write.parquet(src)
    cfg = HarvestConfig(out_dir=str(tmp_path / "out"))

    def broken_link_pairs(*args, **kwargs):
        raise RuntimeError("link exploded")

    with monkeypatch.context() as m:
        m.setattr(lnk, "link_pairs", broken_link_pairs)
        with pytest.raises(RuntimeError, match="link exploded"):
            run_harvest(spark, src, cfg, run_id="run-f")
    runlog = RunLog(spark, os.path.join(cfg.out_dir, "runs"))
    failed = runlog.read().filter("run_id = 'run-f' AND status = 'failed'").collect()
    assert [(r.stage, "link exploded" in r.exc_info) for r in failed] == [("links", True)]

    resumed = run_harvest(spark, src, cfg, run_id="run-f")
    assert [s["stage"] for s in resumed["stages"]] == [
        "links", "cc_labels", "edges", "nodes", "lineage",
    ]
    fresh = run_harvest(
        spark, src, HarvestConfig(out_dir=str(tmp_path / "fresh")), run_id="run-g"
    )
    assert resumed["num_triples"] == fresh["num_triples"]
    assert resumed["num_nodes"] == fresh["num_nodes"]


def _job_ids(spark) -> set:
    """Ids of the Spark jobs started so far outside any job group, once the
    listener bus has delivered every event posted before the call."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


@pytest.mark.slow
def test_snapshot_schemas_recorded(spark, tmp_path, small_transcripts):
    """Every snapshot a fresh harvest commits records the schema parquet
    inference returns, and reading it starts no Spark job.  Manifests
    without recorded schemas (written before they were recorded) still
    read, by inference, and the run still resumes from them."""
    src = str(tmp_path / "transcripts")
    small_transcripts.limit(200).write.parquet(src)
    cfg = HarvestConfig(out_dir=str(tmp_path / "out"))
    res = run_harvest(spark, src, cfg, run_id="run-s")
    tables = {
        name: LocalSnapshotTable(os.path.join(cfg.out_dir, name))
        for name in sorted(os.listdir(cfg.out_dir))
    }
    assert {"runs", "metrics", "quarantine", "edges", "lineage"} <= set(tables)

    before = _job_ids(spark)
    current = {name: tbl.read(spark) for name, tbl in tables.items()}
    assert _job_ids(spark) == before

    for name, tbl in tables.items():
        for snap in tbl.snapshots():
            assert "schema" in snap, (name, snap["id"])
            inferred = spark.read.parquet(*tbl.files(snap["id"])).schema
            assert tbl.read(spark, snap["id"]).schema == inferred, (name, snap["id"])

    for tbl in tables.values():
        with open(tbl.manifest_path) as fh:
            manifest = json.load(fh)
        for snap in manifest["snapshots"]:
            del snap["schema"]
        with open(tbl.manifest_path, "w") as fh:
            json.dump(manifest, fh)
    for name, tbl in tables.items():
        assert tbl.read(spark).schema == current[name].schema, name
    again = run_harvest(spark, src, cfg, run_id="run-s")
    assert again["stages"] == []
    assert again["num_triples"] == res["num_triples"]


def test_iceberg_branch_selected_and_writer_calls(spark):
    """Plan-level coverage of the Iceberg-native backend (no runtime jar in
    this sandbox, so the DataFrameWriterV2 is stubbed at the seam): the
    'iceberg:' uri must route to IcebergTable, write(mode=...) must drive the
    append vs createOrReplace branch, and read(snapshot_id=...) must set the
    snapshot-id option before .table()."""
    import breg_dcat_harvester_spark.storage as st

    t = st.table_for("iceberg:cat.db.tbl")
    assert isinstance(t, st.IcebergTable)
    assert t.identifier == "cat.db.tbl"
    assert isinstance(st.table_for("/tmp/x"), st.LocalSnapshotTable)

    calls = []

    class FakeWriter:
        def append(self):
            calls.append("append")

        def createOrReplace(self):
            calls.append("createOrReplace")

    class FakeSession:
        def sql(self, q):
            calls.append(("sql", q))

            class _R:
                @staticmethod
                def head():
                    return ["snap-1"]

            return _R()

    class FakeDF:
        sparkSession = FakeSession()

        def writeTo(self, identifier):
            calls.append(("writeTo", identifier))
            return FakeWriter()

    assert t.write(FakeDF(), mode="append") == "snap-1"
    assert calls[0] == ("writeTo", "cat.db.tbl")
    assert calls[1] == "append"
    assert calls[2][0] == "sql" and "cat.db.tbl.snapshots" in calls[2][1]

    calls.clear()
    t.write(FakeDF(), mode="overwrite")
    assert calls[1] == "createOrReplace"

    reads = []

    class FakeReader:
        def option(self, k, v):
            reads.append(("option", k, v))
            return self

        def table(self, identifier):
            reads.append(("table", identifier))
            return "DF"

    class FakeReadSession:
        read = FakeReader()

    assert t.read(FakeReadSession(), snapshot_id="123") == "DF"
    assert reads == [("option", "snapshot-id", "123"), ("table", "cat.db.tbl")]
    reads.clear()
    assert t.read(FakeReadSession()) == "DF"
    assert reads == [("table", "cat.db.tbl")]


def test_harvest_increment_equals_batch(spark, tmp_path, small_transcripts):
    """harvest_increment over a conversation shard == run_harvest over the
    combined corpus: identical triple/valid/canonical-edge TERM sets,
    identical nodes table, identical num_triples — while every discovery
    stage of the incremental run is shard-scoped (its runlog rows prove it
    ran inc_triples/delta_triples/touched_slice, not edges_raw)."""
    from breg_dcat_harvester_spark.plans.harvest import harvest_increment

    is_inc = F.substring(F.sha2(F.col("conv_id"), 256), 64, 1).isin(
        "0", "1", "2", "3"
    )
    base_src = str(tmp_path / "t_base")
    inc_src = str(tmp_path / "t_inc")
    all_src = str(tmp_path / "t_all")
    small_transcripts.filter(~is_inc).write.parquet(base_src)
    small_transcripts.filter(is_inc).write.parquet(inc_src)
    small_transcripts.write.parquet(all_src)

    cfg_base = HarvestConfig(out_dir=str(tmp_path / "out_base"))
    run_harvest(spark, base_src, cfg_base, run_id="base")

    cfg_inc = HarvestConfig(out_dir=str(tmp_path / "out_inc"))
    res_inc = harvest_increment(
        spark, cfg_base.out_dir, inc_src, cfg_inc, run_id="inc"
    )
    assert [s["stage"] for s in res_inc["stages"]] == [
        "inc_triples", "delta_triples", "touched_slice", "triples",
        "valid_triples", "links", "cc_labels", "edges", "nodes", "lineage",
    ]

    cfg_all = HarvestConfig(out_dir=str(tmp_path / "out_all"))
    res_all = run_harvest(spark, all_src, cfg_all, run_id="all")

    assert res_inc["num_triples"] == res_all["num_triples"]
    assert res_inc["num_nodes"] == res_all["num_nodes"]

    term_cols = ["subj", "pred", "obj", "obj_kind", "lang", "dtype"]

    def read_stage(out_dir, name):
        return spark.read.parquet(str(tmp_path / out_dir / name / "data"))

    def terms(out_dir, name):
        df = read_stage(out_dir, name)
        return {tuple(r) for r in df.select(*term_cols).collect()}

    for stage_name in ("triples", "valid_triples", "edges"):
        assert terms("out_inc", stage_name) == terms("out_all", stage_name), stage_name
        # row-for-row too, not just as sets: a NULL-blind delta anti-join
        # would re-admit duplicate terms with shard lineage (caught here)
        assert (
            read_stage("out_inc", stage_name).count()
            == read_stage("out_all", stage_name).count()
        ), stage_name

    def nodes(out_dir):
        df = spark.read.parquet(str(tmp_path / out_dir / "nodes" / "data"))
        return {tuple(r) for r in df.collect()}

    assert nodes("out_inc") == nodes("out_all")

    # increment resumability: same run_id -> all stages read back
    res_again = harvest_increment(
        spark, cfg_base.out_dir, inc_src, cfg_inc, run_id="inc"
    )
    assert res_again["stages"] == []
    assert res_again["num_triples"] == res_inc["num_triples"]


def test_compact_merges_small_files(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "c"))
    # simulate streaming accretion: 6 append commits of tiny files, each
    # written 4-way -> ~24 small files
    for i in range(6):
        tbl.write(
            spark.range(i * 100, (i + 1) * 100).repartition(4)
            .withColumnRenamed("id", "x"),
            mode="append",
        )
    before = tbl.read(spark)
    before_rows = sorted(r.x for r in before.collect())
    pre_snap = tbl.current_snapshot()
    n_files_before = len([s for s in tbl.snapshots() if s["id"] == pre_snap][0]["files"])
    assert n_files_before >= 20

    stats = tbl.compact(spark, target_bytes=1 << 30)  # everything -> 1 file
    assert stats["snapshot"] is not None
    assert stats["files_after"] == 1
    # content identical, old snapshot still time-travelable
    after_rows = sorted(r.x for r in tbl.read(spark).collect())
    assert after_rows == before_rows
    assert tbl.read(spark, pre_snap).count() == 600

    # idempotent: a second compact is a no-op (no new snapshot)
    stats2 = tbl.compact(spark, target_bytes=1 << 30)
    assert stats2["snapshot"] is None
    assert stats2["files_before"] == 1

    # expire reclaims the small files
    tbl.expire_snapshots(keep_n=1)
    remaining = os.listdir(tbl.data_dir)
    assert len(remaining) == 1


def test_snapshot_schema_evolution_merge(spark, tmp_path):
    # Iceberg add-column semantics: an append may carry a new column; the
    # merged read surfaces it with NULLs for pre-evolution rows
    tbl = LocalSnapshotTable(str(tmp_path / "ev"))
    s1 = tbl.write(
        spark.range(3).selectExpr("id AS x"), mode="overwrite"
    )
    s2 = tbl.write(
        spark.range(3, 5).selectExpr("id AS x", "id * 10 AS y"),
        mode="append",
    )
    # the widening append records no schema, so its default read is the
    # inferred one, as for a manifest without recorded schemas
    assert ["schema" in s for s in tbl.snapshots()] == [True, False]
    assert tbl.read(spark, s2).columns == spark.read.parquet(*tbl.files(s2)).columns
    merged = tbl.read(spark, merge_schema=True)
    assert sorted(merged.columns) == ["x", "y"]
    rows = {r.x: r.y for r in merged.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40}
    # time travel to the pre-evolution snapshot: no y column at all
    assert tbl.read(spark, s1, merge_schema=True).columns == ["x"]


# --- IcebergTable call-chain (no Iceberg jar in the sandbox: the backend is
# exercised at the API boundary with stubs, so the cluster path is at least
# call-shape-tested instead of shipping as dead code) -------------------------


class _StubWriter:
    def __init__(self, log):
        self.log = log

    def append(self):
        self.log.append("append")

    def createOrReplace(self):
        self.log.append("createOrReplace")


class _StubRow:
    def __init__(self, v):
        self.v = v

    def __getitem__(self, i):
        return self.v


class _StubSql:
    def __init__(self, row):
        self._row = row
        self.queries = []

    def sql(self, q):
        self.queries.append(q)
        outer = self

        class _R:
            def head(self):
                return outer._row

        return _R()


class _StubDf:
    def __init__(self, log, session):
        self.log = log
        self.sparkSession = session

    def writeTo(self, identifier):
        self.log.append(f"writeTo:{identifier}")
        return _StubWriter(self.log)


def test_iceberg_table_write_modes_and_snapshot_probe():
    from breg_dcat_harvester_spark.storage import IcebergTable, table_for

    t = table_for("iceberg:cat.db.edges")
    assert isinstance(t, IcebergTable) and t.identifier == "cat.db.edges"

    log = []
    sess = _StubSql(_StubRow(4242))
    df = _StubDf(log, sess)
    snap = t.write(df, mode="append")
    assert log == ["writeTo:cat.db.edges", "append"]
    assert snap == "4242"
    # snapshot probe reads the catalog's snapshot log, newest first
    assert "cat.db.edges.snapshots" in sess.queries[0]
    assert "ORDER BY committed_at DESC" in sess.queries[0]

    log.clear()
    t.write(df, mode="overwrite")
    assert log == ["writeTo:cat.db.edges", "createOrReplace"]

    # empty snapshot log -> write reports empty id, not a crash
    df2 = _StubDf([], _StubSql(None))
    assert t.write(df2, mode="append") == ""


def test_value_violations_constraint_kinds(spark):
    from breg_dcat_harvester_spark.operators.validate import (
        ValueShape,
        value_violations,
    )
    from breg_dcat_harvester_spark.schema import RDF_TYPE, TRIPLE_STRUCT

    rows = [
        ("urn:d1", RDF_TYPE, "urn:Dataset", "uri", None, None),
        # pattern violation
        ("urn:d1", "urn:id", "BAD-1", "literal", None, None),
        # nodeKind violation (literal where IRI required)
        ("urn:d1", "urn:theme", "not-a-uri", "literal", None, None),
        # datatype: plain literal where langString required
        ("urn:d1", "urn:title", "plain", "literal", None, None),
        # conforming values
        ("urn:d1", "urn:title", "tagged", "literal", "en", None),
        ("urn:d1", "urn:theme", "urn:t", "uri", None, None),
        # untyped subject: never checked
        ("urn:x", "urn:id", "BAD-2", "literal", None, None),
    ]
    g = spark.createDataFrame(rows, TRIPLE_STRUCT)
    shapes = [
        ValueShape("urn:Dataset", "urn:id", pattern="^ID-[0-9]+$"),
        ValueShape("urn:Dataset", "urn:theme", node_kind="IRI"),
        ValueShape(
            "urn:Dataset", "urn:title",
            datatype="http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
            severity="Warning",
        ),
    ]
    got = {
        (r.subj, r.path, r.value, r.check_kind, r.severity)
        for r in value_violations(g, shapes).collect()
    }
    assert got == {
        ("urn:d1", "urn:id", "BAD-1", "pattern", "Violation"),
        ("urn:d1", "urn:theme", "not-a-uri", "nodeKind", "Violation"),
        ("urn:d1", "urn:title", "plain", "datatype", "Warning"),
    }
