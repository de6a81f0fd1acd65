"""Increment ingestion — admit an arriving shard into a live corpus.

The operational shape of a 100 TB training corpus is not "curate once": new
shards arrive continuously and each must be admitted against everything
already ingested without reprocessing the base.  ``ingest_increment``
composes the already-tested incremental pieces into ONE plan that emits an
auditable per-document decision row ("why was doc X kept/dropped?"):

1. **exact duplicate of the base** — sha256(text) semi-join against the
   base's hash set (at scale: a persisted hash index; map-side partial
   projection, one sliver-sized join);
2. **near-duplicate** — ``dedup.incremental_minhash_pairs``: the increment's
   band keys against the base's persisted LSH index, cost ∝ increment;
3. **admission policy** (greedy-by-id, documented): a new doc is dropped if
   it near-dups ANY base doc, or a smaller-id doc within the increment.
   Greedy differs from the batch operator's transitive-closure clustering
   (canonical_docs) deliberately — an increment must not re-cluster the
   base.  Dedup decisions are computed over ALL arriving docs before
   quality gating, so a quality-dropped doc still dooms its within-shard
   near-dups (conservative: the duplicate content exists in the stream even
   if its first copy was rejected);
4. **quality gate** — integer-exact token-count and alpha-ratio thresholds;
5. **PII counts** — `pii.redact_pii` span counts ride the same scan.

``selected`` = not exact-dup AND not near-dup AND quality_ok.  Everything
except the two dedup joins is map-side; the whole decision is deterministic
at any parallelism and replayed exactly by the DuckDB oracle
(`ingest_increment` contract query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textfns as tf
from ..operators.dedup import incremental_minhash_pairs
from ..operators.pii import redact_pii


def ingest_increment(
    new_df: DataFrame,
    base_df: DataFrame,
    threshold: float = 0.8,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_alpha_per_mille: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_index: DataFrame | None = None,
    base_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-new-document admission decision:
    (doc_id, n_tokens, n_chars, n_alpha, n_pii, exact_dup, near_dup,
    quality_ok, selected)."""
    new_docs = new_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    base_docs = base_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )

    # 1. exact dup: hash semi-join against the base's (persistable) hash set
    base_hashes = base_docs.select(F.sha2("text", 256).alias("text_hash")).distinct()
    hashed = new_docs.withColumn("text_hash", F.sha2("text", 256))
    exact = (
        hashed.join(base_hashes, "text_hash", "left_semi")
        .select("doc_id", F.lit(True).alias("exact_dup"))
    )

    # 2-3. near-dup pairs touching the increment, greedy-by-id admission
    pairs = incremental_minhash_pairs(
        new_df,
        base_df,
        threshold=threshold,
        id_col=id_col,
        text_col=text_col,
        base_index=base_index,
        base_bucket_counts=base_bucket_counts,
    )
    new_ids = new_docs.select("doc_id")
    # a pair (a < b) dooms its NEW members: b always (a is base or an
    # earlier new doc), and a only when a is new and b is base (base docs
    # are already admitted — similarity to one drops the new side
    # regardless of id order)
    doomed_b = pairs.join(new_ids, pairs.b == new_ids.doc_id, "left_semi").select(
        F.col("b").alias("doc_id")
    )
    base_ids = base_docs.select("doc_id")
    doomed_a = (
        pairs.join(new_ids, pairs.a == new_ids.doc_id, "left_semi")
        .join(base_ids, pairs.b == base_ids.doc_id, "left_semi")
        .select(F.col("a").alias("doc_id"))
    )
    near = doomed_b.union(doomed_a).distinct().select(
        "doc_id", F.lit(True).alias("near_dup")
    )

    # 4-5. quality + PII, fused into one scan of the increment
    qf = tf.quality_features(F.col("text"))
    flagged = redact_pii(new_docs, text_col="text").select(
        "doc_id",
        qf["n_tokens"].alias("n_tokens"),
        qf["n_chars"].alias("n_chars"),
        qf["n_alpha"].alias("n_alpha"),
        (F.col("n_email") + F.col("n_card") + F.col("n_phone") + F.col("n_ipv4"))
        .cast("long")
        .alias("n_pii"),
    ).withColumn(
        "quality_ok",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("n_alpha") * 1000 >= F.col("n_chars") * min_alpha_per_mille),
    )

    return (
        flagged.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .withColumn("exact_dup", F.coalesce("exact_dup", F.lit(False)))
        .withColumn("near_dup", F.coalesce("near_dup", F.lit(False)))
        .withColumn(
            "selected",
            ~F.col("exact_dup") & ~F.col("near_dup") & F.col("quality_ok"),
        )
        .select(
            "doc_id", "n_tokens", "n_chars", "n_alpha", "n_pii",
            "exact_dup", "near_dup", "quality_ok", "selected",
        )
    )
