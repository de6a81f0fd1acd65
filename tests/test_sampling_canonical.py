"""Deterministic sampling + canonical near-dup curation operators.

Each test checks the Spark operator against an independent DuckDB replay of
the same definition (the driver's oracle gate in miniature) plus the
property that actually matters at scale: the result is identical at any
partitioning.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators import dedup as ddp
from breg_dcat_harvester_spark.operators import sampling as smp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    yield con
    con.close()


def test_sample_bucket_matches_duckdb(spark, docs, duck):
    """The sha256-derived bucket must replay bit-exactly in another engine
    (this is what makes the sampling decision auditable)."""
    got = {
        r.doc_id: r.bucket
        for r in docs.select(
            "doc_id", smp.sample_bucket(F.col("doc_id"))
        ).collect()
    }
    want = dict(
        duck.execute(
            "SELECT doc_id, ('0x' || substr(sha256('smpl:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 FROM documents"
        ).fetchall()
    )
    assert got == want


def test_stratified_bernoulli_rates_and_determinism(spark, docs):
    rates = {"en": 250, "de": 600}
    out = smp.stratified_bernoulli(docs.select("doc_id", "lang"), rates)
    rows = {(r.doc_id, r.lang) for r in out.collect()}
    # unlisted strata drop entirely (default_rate=0)
    assert all(lang in rates for _, lang in rows)
    # every kept bucket is under its stratum rate
    for r in out.collect():
        assert r.bucket < rates[r.lang]
    # identical selection at a different parallelism
    rows2 = {
        (r.doc_id, r.lang)
        for r in smp.stratified_bernoulli(
            docs.select("doc_id", "lang").repartition(13), rates
        ).collect()
    }
    assert rows2 == rows


def test_weighted_bernoulli_per_row_rates(spark):
    from pyspark.sql import functions as F

    rows = [(i, w) for i, w in enumerate(
        [0, 100, 500, 999, 1000, 1500, -50] * 40
    )]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = smp.weighted_bernoulli(df, F.col("w"))
    got = out.collect()
    # the decision is exactly bucket < clamp(w, 0, 1000)
    for r in got:
        assert 0 <= r.keep_pm <= 1000
        assert r.bucket < r.keep_pm
    ids = {r.doc_id for r in got}
    by_id = dict(rows)
    # w<=0 rows never survive; w>=1000 rows always survive
    assert not any(by_id[i] <= 0 for i in ids)
    assert all(i in ids for i, w in rows if w >= 1000)
    # deterministic at any parallelism
    ids2 = {
        r.doc_id
        for r in smp.weighted_bernoulli(df.repartition(13), F.col("w")).collect()
    }
    assert ids2 == ids
    # plan is map-only: no exchange at any corpus size
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_stratified_fixed_k(spark, docs):
    k = 5
    out = smp.stratified_fixed_k(docs.select("doc_id", "lang"), k=k).collect()
    per = {}
    for r in out:
        per.setdefault(r.lang, []).append((r.bucket, r.doc_id, r.sample_rank))
    counts = dict(
        (r.lang, r["count"])
        for r in docs.groupBy("lang").count().collect()
    )
    for lang, rows in per.items():
        assert len(rows) == min(k, counts[lang])
        assert sorted(r[2] for r in rows) == list(range(1, len(rows) + 1))
        # hash-ordered: ranks follow (bucket, doc_id)
        assert sorted(rows) == sorted(rows, key=lambda t: t[2])
    # deterministic under repartition
    again = smp.stratified_fixed_k(
        docs.select("doc_id", "lang").repartition(7), k=k
    ).collect()
    assert {(r.doc_id, r.sample_rank) for r in again} == {
        (r.doc_id, r.sample_rank) for r in out
    }


def test_stratified_fixed_k_fanout_invariant(spark, docs):
    """The two-stage top-k (skew-safe) must emit exactly the rows and
    ranks of the degenerate fanout=1 form at any fanout."""
    base = docs.select("doc_id", "lang")
    want = {
        (r.doc_id, r.sample_rank)
        for r in smp.stratified_fixed_k(base, k=4, fanout=1).collect()
    }
    for fanout in (2, 64, 257):
        got = {
            (r.doc_id, r.sample_rank)
            for r in smp.stratified_fixed_k(base, k=4, fanout=fanout).collect()
        }
        assert got == want, f"fanout={fanout}"


def test_canonical_docs_covers_corpus_and_matches_pairs(spark, docs):
    decisions = ddp.canonical_docs(docs, threshold=0.8).collect()
    assert len(decisions) == docs.count()  # one decision per document
    canon = {r.doc_id: r.canonical_id for r in decisions}
    # canonical ids are cluster minima and fixpoints
    for did, c in canon.items():
        assert c <= did
        assert canon[c] == c, "canonical doc must map to itself"
    # pairs imply same cluster; the planted near-dups collapse
    pairs = ddp.minhash_lsh_pairs(docs, threshold=0.8).collect()
    assert pairs, "testdata should contain planted near-dups"
    for p in pairs:
        assert canon[p.a] == canon[p.b]
    # is_canonical is consistent
    for r in decisions:
        assert r.is_canonical == (r.doc_id == r.canonical_id)


def test_upsample_epochs_multiplicities(spark, small_docs_df=None):
    from pyspark.sql import functions as F

    from breg_dcat_harvester_spark.operators.sampling import upsample_epochs

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh", f"text {i}") for i in range(200)],
        "doc_id long, lang string, text string",
    )
    out = upsample_epochs(docs, {"en": 2500, "zh": 0})
    rows = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("epoch").alias("max_e")
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    # zh (weight 0): never emitted
    assert all(i not in by_id for i in range(1, 200, 2))
    # en (weight 2.5 epochs): every doc 2 or 3 copies, epoch = 1..n
    ns = [by_id[i].n for i in range(0, 200, 2)]
    assert set(ns) <= {2, 3}
    assert all(by_id[i].max_e == by_id[i].n for i in range(0, 200, 2))
    # expected multiplicity ~2.5: the 3-copy share is the fractional part
    mean = sum(ns) / len(ns)
    assert 2.3 < mean < 2.7
    # parallelism-invariant (content-keyed decision)
    a = sorted(map(tuple, out.select("doc_id", "epoch").collect()))
    b = sorted(map(tuple, upsample_epochs(docs.repartition(13), {"en": 2500, "zh": 0})
                   .select("doc_id", "epoch").collect()))
    assert a == b
