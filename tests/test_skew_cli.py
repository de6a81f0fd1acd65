"""Skew helpers + CLI smoke + per-partition metrics."""

import json
import subprocess
import sys

from pyspark.sql import functions as F

from breg_dcat_harvester_spark.functions import skew


def test_salted_join_equals_plain(spark):
    fact = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    dim = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, name string")
    plain = fact.join(dim, "k").groupBy("k", "name").count()
    salted = skew.salted_join(fact, dim, "k", salt_mod=8).groupBy("k", "name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}
    # salt actually spreads the hot key across multiple salt values
    spread = (
        skew.with_salt(fact.filter("k = 'hot'"), "k", 8)
        .select("_salt").distinct().count()
    )
    assert spread > 1


def test_hot_keys_and_salted_collect_set(spark):
    df = spark.createDataFrame(
        [("hot", f"v{i % 17}") for i in range(300)] + [("cold", "x")],
        "k string, v string",
    )
    hot = skew.hot_keys(df, "k", min_count=100)
    assert [r.k for r in hot.collect()] == ["hot"]
    sets = {r.k: sorted(r.v_set) for r in skew.salted_collect_set(df, "k", "v").collect()}
    assert len(sets["hot"]) == 17 and sets["cold"] == ["x"]


def test_cli_harvest_and_facets(tmp_path):
    """CLI drives the full pipeline in a fresh process (spark-submit shape)."""
    from breg_dcat_harvester_spark.datagen import gen_transcripts, write_transcripts_parquet

    src = str(tmp_path / "t")
    out = str(tmp_path / "kg")
    write_transcripts_parquet(gen_transcripts(300), src)
    env_code = (
        "import sys; sys.path.insert(0, '/root/repo'); "
        "from breg_dcat_harvester_spark.cli import main; "
        f"sys.exit(main(['harvest', '--transcripts', {src!r}, '--out', {out!r}, "
        "'--buckets', '4']))"
    )
    res = subprocess.run(
        [sys.executable, "-c", env_code], capture_output=True, text=True, timeout=420
    )
    assert res.returncode == 0, res.stderr[-2000:]
    payload = json.loads([l for l in res.stdout.splitlines() if l.startswith("{")][-1])
    assert payload["num_triples"] > 0

    res2 = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, '/root/repo'); "
         "from breg_dcat_harvester_spark.cli import main; "
         f"sys.exit(main(['facets', '--out', {out!r}]))"],
        capture_output=True, text=True, timeout=300,
    )
    assert res2.returncode == 0, res2.stderr[-2000:]
    facets = json.loads([l for l in res2.stdout.splitlines() if l.startswith("[")][-1])
    assert any(f["facet"] == "taxonomy" for f in facets)

    dest = str(tmp_path / "nt")
    res3 = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, '/root/repo'); "
         "from breg_dcat_harvester_spark.cli import main; "
         f"sys.exit(main(['export', '--out', {out!r}, '--dest', {dest!r}]))"],
        capture_output=True, text=True, timeout=300,
    )
    assert res3.returncode == 0, res3.stderr[-2000:]
    exp = json.loads([l for l in res3.stdout.splitlines() if l.startswith("{")][-1])
    assert exp["num_triples"] == payload["num_triples"]
    # the .nt part files concatenate into a valid graph document: every
    # line is a triple terminated by ' .'
    import glob as _glob

    lines = []
    for p in _glob.glob(f"{dest}/part-*"):
        with open(p) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == exp["num_triples"]
    assert all(ln.endswith(" .") and ln.startswith("<") for ln in lines)


def test_partition_metrics(spark, tmp_path, small_transcripts):
    from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest
    from breg_dcat_harvester_spark.plans.jobs import MetricsLog
    from breg_dcat_harvester_spark.storage import LocalSnapshotTable

    src = str(tmp_path / "t")
    small_transcripts.limit(200).write.parquet(src)
    cfg = HarvestConfig(out_dir=str(tmp_path / "kg"), num_buckets=4)
    res = run_harvest(spark, src, cfg, run_id="m-run")
    m = MetricsLog(spark, str(tmp_path / "kg" / "metrics")).read()
    rows = m.filter((F.col("run_id") == "m-run") & (F.col("stage") == "edges"))
    assert rows.count() > 0
    assert rows.agg(F.sum("rows_out")).head()[0] > 0

    # one row per committed edges data file, partition_id = sorted file
    # index; the rows add up to the edges stage's rows (canonicalization
    # can fold two subjects, so that is at least num_triples)
    edges = LocalSnapshotTable(str(tmp_path / "kg" / "edges")).read(spark)
    per_file = sorted(
        (r.f, r.n)
        for r in edges.groupBy(F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    recorded = sorted((r.partition_id, r.rows_out) for r in rows.collect())
    assert recorded == [(i, n) for i, (_, n) in enumerate(per_file)]
    edges_rows = next(s["rows"] for s in res["stages"] if s["stage"] == "edges")
    assert sum(n for _, n in recorded) == edges_rows >= res["num_triples"]
    assert m.schema.simpleString() == (
        "struct<run_id:string,stage:string,partition_id:int,rows_out:bigint>"
    )


def test_cli_harvest_increment(spark, tmp_path, small_transcripts, capsys):
    """harvest-increment arg wiring: base harvest + shard fold-in via the
    CLI entry (in-process — get_spark getOrCreate's the test session);
    result equals a batch harvest over the combined corpus."""
    from breg_dcat_harvester_spark.cli import main
    from breg_dcat_harvester_spark.plans.harvest import HarvestConfig, run_harvest
    from pyspark.sql import functions as F

    is_inc = F.substring(F.sha2(F.col("conv_id"), 256), 64, 1).isin(
        "0", "1", "2", "3", "4", "5"
    )
    base_src = str(tmp_path / "tb")
    inc_src = str(tmp_path / "ti")
    all_src = str(tmp_path / "ta")
    small_transcripts.filter(~is_inc).write.parquet(base_src)
    small_transcripts.filter(is_inc).write.parquet(inc_src)
    small_transcripts.write.parquet(all_src)

    base_out = str(tmp_path / "kg_base")
    run_harvest(
        spark, base_src, HarvestConfig(out_dir=base_out),
        run_id="b",
    )
    rc = main([
        "harvest-increment", "--base", base_out,
        "--transcripts", inc_src, "--out", str(tmp_path / "kg_inc"),
        "--buckets", "4",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    payload = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
    batch = run_harvest(
        spark, all_src,
        HarvestConfig(out_dir=str(tmp_path / "kg_all")),
        run_id="a",
    )
    assert payload["num_triples"] == batch["num_triples"]
    assert payload["num_nodes"] == batch["num_nodes"]


def test_cli_sparql_query_update_and_ttl_export(spark, tmp_path, capsys):
    """In-process CLI smoke: seed an edges snapshot, query it, update it
    (new snapshot committed), export it as Turtle."""
    import glob as _glob
    import json

    from breg_dcat_harvester_spark import cli
    from breg_dcat_harvester_spark.schema import TRIPLE_STRUCT
    from breg_dcat_harvester_spark.storage import LocalSnapshotTable

    out = str(tmp_path / "kg")
    rows = [
        ("urn:c1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "http://www.w3.org/ns/dcat#Catalog", "uri", None, None),
        ("urn:c1", "http://purl.org/dc/terms/title", "T", "literal", "en", None),
    ]
    LocalSnapshotTable(f"{out}/edges").write(
        spark.createDataFrame(rows, TRIPLE_STRUCT)
    )

    rc = cli.main([
        "sparql", "--out", out, "--query",
        "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
        "PREFIX dcat: <http://www.w3.org/ns/dcat#> "
        "SELECT ?c WHERE { ?c rdf:type dcat:Catalog }",
    ])
    assert rc == 0
    got = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {"c": "urn:c1"} in got

    rc = cli.main([
        "sparql", "--out", out, "--update",
        'DELETE WHERE { ?s <http://purl.org/dc/terms/title> ?o }',
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["num_triples"] == 1 and res["snapshot_id"]
    # the committed snapshot reflects the update
    assert LocalSnapshotTable(f"{out}/edges").read(spark).count() == 1

    rc = cli.main(["export", "--out", out, "--dest", str(tmp_path / "ttl"),
                   "--format", "ttl"])
    assert rc == 0
    parts = _glob.glob(str(tmp_path / "ttl" / "part-*"))
    txt = "".join(open(p).read() for p in parts)
    assert "@prefix dcat:" in txt and "a dcat:Catalog" in txt

    # exactly one of --query/--update required
    assert cli.main(["sparql", "--out", out]) == 2


def test_cli_sparql_update_preserves_provenance(spark, tmp_path, capsys):
    import json

    from breg_dcat_harvester_spark import cli
    from breg_dcat_harvester_spark.schema import EDGES
    from breg_dcat_harvester_spark.storage import LocalSnapshotTable

    out = str(tmp_path / "kg")
    rows = [
        ("urn:c1", "urn:p", "urn:o1", "uri", None, None, "conv-1", 3),
        ("urn:c1", "urn:del", "urn:o2", "uri", None, None, "conv-2", 5),
    ]
    LocalSnapshotTable(f"{out}/edges").write(
        spark.createDataFrame(rows, EDGES)
    )
    rc = cli.main([
        "sparql", "--out", out, "--update",
        "DELETE WHERE { ?s <urn:del> ?o } ; "
        "INSERT DATA { <urn:new> <urn:p> <urn:o3> }",
    ])
    assert rc == 0
    capsys.readouterr()
    got = {
        (r.subj, r.pred, r.conv_id, r.turn_idx)
        for r in LocalSnapshotTable(f"{out}/edges").read(spark).collect()
    }
    # surviving triple keeps its lineage; the inserted one carries NULLs
    assert ("urn:c1", "urn:p", "conv-1", 3) in got
    assert ("urn:new", "urn:p", None, None) in got
    assert not any(p == "urn:del" for _, p, _, _ in got)
