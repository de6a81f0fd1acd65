"""Training-data pipeline operators: the dedup family on the sf0.001 test
tables."""

import pytest
from pyspark.sql import functions as F

from breg_dcat_harvester_spark.operators import dedup as ddp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_dup_of_duplicated_docs(spark, docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))
    groups = ddp.exact_dup_groups(doubled)
    assert groups.count() == docs.count()
    assert groups.agg(F.max("n_docs")).head()[0] == 2
    row = groups.orderBy("text_hash").head()
    # canonical is the lexicographically-smallest id and leads the sample
    assert row.sample_ids.split(",")[0] == row.canonical_id


def test_exact_dup_group_output_is_bounded(spark):
    """A 10^4-member duplicate group must yield an O(sample_k) row, not a
    concatenation of every member id (the degenerate-boilerplate corpus
    case: one aggregation value used to grow with group size)."""
    n = 10_000
    dup = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    uniq = spark.range(3).select(
        (F.col("id") + n).alias("doc_id"),
        F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"),
    )
    rows = ddp.exact_dup_groups(dup.unionByName(uniq), sample_k=8).collect()
    assert len(rows) == 1
    (g,) = rows
    assert g.n_docs == n
    assert g.canonical_id == "0"
    ids = g.sample_ids.split(",")
    assert len(ids) == 8, "sample must be capped at sample_k"
    # the 8 lexicographically-smallest string ids of 0..9999
    assert ids == sorted((str(i) for i in range(n)))[:8]
    assert len(g.sample_ids) < 200, "row size must not scale with group size"


def test_minhash_lsh_equals_bruteforce(spark, docs):
    bf = {(r.a, r.b) for r in ddp.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.a, r.b) for r in ddp.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert lsh == bf
    assert len(bf) > 0, "testdata should contain planted near-dups"


def test_minhash_signature_hashes_are_independent(spark, docs):
    """Regression: pyspark collapses python-lambda HOFs that differ only in a
    captured literal into one expression — every minhash column silently
    became the same hash (recall degraded to min-shingle collision).  The
    signature columns must be pairwise-distinct functions."""
    from pyspark.sql import functions as F

    arr = ddp.shingle_arrays(ddp._docs(docs, "doc_id", "text")).limit(5)
    sig = arr.select(
        *[
            F.array_min(F.expr(f"transform(sh_set, s -> xxhash64(s, {j}))")).alias(
                f"h{j}"
            )
            for j in range(8)
        ]
    ).collect()
    for row in sig:
        assert len(set(row)) > 1, f"all minhash columns identical: {row[:3]}..."


def test_simhash_finds_planted_near_dups(spark, docs):
    """SimHash(hamming<=3) should overlap with high-jaccard pairs."""
    sh = {(r.a, r.b) for r in ddp.simhash_pairs(docs, max_hamming=3).collect()}
    bf = {(r.a, r.b) for r in ddp.ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert len(sh & bf) > 0
    # identical docs must have hamming 0
    doubled = docs.limit(3).unionByName(
        docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = ddp.simhash_pairs(doubled, max_hamming=0).collect()
    assert {(r.a, r.b) for r in pairs} == {(0, 100000), (1, 100001), (2, 100002)}


def test_duplicated_span_scrub_semantics(spark):
    from breg_dcat_harvester_spark.operators.dedup import duplicated_span_scrub

    shared = " ".join(f"s{i}" for i in range(20))  # 20-token shared passage
    rows = [
        (1, shared + " tail1 tail2 tail3"),
        (2, "head1 head2 " + shared),
        # within-doc repetition only -> NOT scrubbed (min_docs counts docs)
        (3, " ".join(f"r{i % 4}" for i in range(40))),
        (4, "short doc"),  # < width -> untouched
        (5, "totally unique " + " ".join(f"u{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_span_scrub(df, width=16, min_docs=2).collect()}

    # the shared 20-token passage has 5 hot 16-windows per doc; scrubbing
    # the union of covered positions removes the passage from BOTH docs
    assert out[1].n_dup_windows == 5
    assert out[1].clean_text == "tail1 tail2 tail3"
    assert out[2].n_dup_windows == 5
    assert out[2].clean_text == "head1 head2"
    # within-doc repeats survive
    assert out[3].n_dup_windows == 0 and out[3].clean_text == rows[2][1]
    assert out[4].n_dup_windows == 0 and out[4].clean_text == "short doc"
    assert out[5].n_dup_windows == 0


def test_duplicated_span_scrub_three_way(spark):
    from breg_dcat_harvester_spark.operators.dedup import duplicated_span_scrub

    block = " ".join(f"b{i}" for i in range(16))
    rows = [(i, f"pre{i} " + block + f" post{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_span_scrub(df, width=16, min_docs=3).collect()}
    for i in range(3):
        assert out[i].n_dup_windows == 1
        assert out[i].clean_text == f"pre{i} post{i}"
