"""Deterministic corpus sampling (training-data pipeline operators).

Training mixes are built by sampling strata (language, source, quality band)
at controlled rates.  At 100 TB the sampler must be:

* **Deterministic** — re-running the pipeline (or resuming a failed run)
  must select the SAME rows; ``rand()``-based sampling is not reproducible
  across retries/cluster sizes.  We hash a stable key instead: a row is kept
  iff ``bucket(key) < rate``, where bucket is sha256-derived.  sha256 (not
  xxhash64) so any engine can replay the decision bit-exactly — the DuckDB
  oracle does.
* **Map-only where possible** — ``stratified_bernoulli`` is a pure filter:
  no shuffle, full predicate pushdown potential, trivially parallel at any
  cluster size.
* **Bounded where required** — ``stratified_fixed_k`` gives exactly
  min(k, |stratum|) rows per stratum (a distributed analog of per-stratum
  reservoir sampling) via two-stage top-k: local top-k inside
  (stratum, hash-split) groups bounds every sort partition at
  |stratum|/fanout rows, then a global rank over the <= fanout*k
  survivors per stratum.  A 100 TB corpus that is 90% one language never
  lands a whole stratum on one reducer (the single-window form would).

Reference parity note: the reference has no sampler (it harvests complete
sources); this family belongs to the "operations a large-scale training-data
pipeline would need" mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1000


def bucket_hash(key, salt: str = "smpl"):
    """sha256("<salt>:<key>") hex — the engine-replayable decision hash
    shared by sampling, shuffle-sharding and lineage buckets (DuckDB:
    sha256('<salt>:'||key))."""
    return F.sha2(F.concat_ws(":", F.lit(salt), key.cast("string")), 256)


def sample_bucket(key, salt: str = "smpl", buckets: int = BUCKETS, alias: str = "bucket"):
    """Deterministic bucket in [0, buckets) from a stable key column.

    First 8 hex chars of sha256("<salt>:<key>") as an integer, mod buckets —
    uniform, engine-replayable (DuckDB: ('0x'||substr(sha256(..),1,8))::BIGINT).
    """
    h = bucket_hash(key, salt)
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets).alias(
        alias
    )


def stratified_bernoulli(
    df: DataFrame,
    rates: dict[str, int],
    key_col: str = "doc_id",
    stratum_col: str = "lang",
    default_rate: int = 0,
    salt: str = "smpl",
) -> DataFrame:
    """Keep each row iff its bucket < the stratum's rate (per-mille).

    ``rates`` maps stratum value -> keep-rate out of 1000 (e.g. {"en": 100,
    "de": 500}).  Unlisted strata use ``default_rate``.  Pure map-side
    filter: zero shuffles, deterministic, idempotent under re-runs.
    """
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(int(r))).otherwise(rate)
    return df.withColumn(
        "bucket", sample_bucket(F.col(key_col), salt=salt)
    ).filter(F.col("bucket") < rate)


def weighted_bernoulli(
    df: DataFrame,
    weight,
    key_col: str = "doc_id",
    salt: str = "wsmpl",
    max_weight: int = BUCKETS,
) -> DataFrame:
    """Per-ROW weighted Bernoulli sampling: each row's keep probability is
    its own integer ``weight`` in per-mille (clamped to [0, max_weight]) —
    the quality-REWEIGHTED corpus-sampling shape (keep high-quality
    documents with higher probability, cf. DCLM-style quality-classifier
    reweighting), versus ``stratified_bernoulli``'s per-STRATUM constant
    rates.

    keep iff sample_bucket(key, salt) < clamp(weight, 0, max_weight)

    Map-only (zero shuffle at any corpus size), deterministic and
    idempotent under re-runs, and replayable bit-exactly in any engine
    from sha256 alone (the shared decision-hash discipline).  The clamped
    weight and the decision bucket stay on the output row for
    auditability.
    """
    w = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(int(max_weight)).cast("long"), weight.cast("long")),
    )
    return (
        df.withColumn("keep_pm", w)
        .withColumn("bucket", sample_bucket(F.col(key_col), salt=salt))
        .filter(F.col("bucket") < F.col("keep_pm"))
    )


def stratified_fixed_k(
    df: DataFrame,
    k: int,
    key_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "smpl",
    fanout: int = 64,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by hash order.

    The hash ranking makes the selection content-deterministic (same rows
    at any parallelism) and unbiased (sha256 buckets are uniform); ties on
    bucket break by key for full determinism.  Adds ``bucket`` and
    ``sample_rank`` columns.

    Two-stage top-k for skew safety: stage 1 ranks inside
    (stratum, xxhash64(key) % fanout) groups — any row in a stratum's
    global top k is also in its split's local top k, so keeping local
    ranks <= k loses nothing while bounding every sort at
    ~|stratum|/fanout rows.  Stage 2 ranks the <= fanout*k survivors per
    stratum; a survivor's rank among survivors equals its global rank
    (all its global predecessors survived stage 1), so the output —
    including ``sample_rank`` — is identical to the single-window form.
    """
    bucketed = df.withColumn("bucket", sample_bucket(F.col(key_col), salt=salt))
    split = F.pmod(F.xxhash64(F.col(key_col)), F.lit(fanout))
    w1 = Window.partitionBy(F.col(stratum_col), split).orderBy("bucket", key_col)
    survivors = (
        bucketed.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w = Window.partitionBy(stratum_col).orderBy("bucket", key_col)
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def upsample_epochs(
    df: DataFrame,
    weights: dict[str, int],
    key_col: str = "doc_id",
    stratum_col: str = "lang",
    default_weight: int = 1000,
    salt: str = "rep",
) -> DataFrame:
    """Fractional-epoch upsampling: weight in per-mille EPOCHS per stratum
    (2500 = every doc 2.5x).  The training-mix construction step published
    data recipes describe as "N epochs of source X": each doc is emitted
    floor(w/1000) times, plus once more iff its sha256 bucket < w mod 1000
    — so the EXPECTED multiplicity is exactly w/1000, the decision is
    per-document deterministic (replayable by the oracle, resume-stable),
    and repeats are distinguishable via the added ``epoch`` column (a
    training reader shuffles them into different shards; see
    packing.shuffle_shards on (key, epoch)).

    Map-only: weight lookup, bucket hash, and the explode(sequence(...)) all
    fuse into the scan — zero shuffle at any corpus size; output size is the
    only cost, exactly as a copy-based recipe would pay.
    """
    w = F.lit(int(default_weight))
    for value, wt in sorted(weights.items()):
        w = F.when(F.col(stratum_col) == value, F.lit(int(wt))).otherwise(w)
    n_copies = (w / 1000).cast("long") + (
        sample_bucket(F.col(key_col), salt=salt) < F.pmod(w, F.lit(1000))
    ).cast("long")
    return (
        df.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_n").cast("int"))))
        .drop("_n")
        .withColumn("epoch", F.col("epoch").cast("long"))
    )
