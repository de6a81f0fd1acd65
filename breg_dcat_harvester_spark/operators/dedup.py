"""Document deduplication family (training-data pipeline operators).

Beyond the reference's exact-URI dedup (RDF set semantics), a corpus
pipeline needs textual near-dup detection.  All operators run on a generic
(id, text) projection — the ``documents`` table or transcript turns.

* ``exact_dup_groups``     — sha256(text) hash-groupBy (one shuffle, partial
  agg map-side; the canonical exact dedup at any scale).  Per-group output
  is bounded (count + canonical + k-sample), never a full member list.
* ``ngram_jaccard_pairs``  — exact word-n-gram jaccard via shingle self-join
  (the brute-force baseline and the oracle shape).
* ``minhash_lsh_pairs``    — banded-MinHash blocking + exact-jaccard verify:
  the 100 TB path.  Candidate generation cost ~ O(docs x bands), pair
  verification only within band buckets.
* ``simhash64``/``simhash_pairs`` — 64-bit SimHash with banded hamming
  blocking (bit_count(xor) <= d verify).  Complementary to MinHash: better
  for near-identical docs with small edits.

Scale notes: every operator is shuffle-bounded by its blocking key (hash,
band bucket); nothing is quadratic except the explicitly-named brute-force
baseline.  Oversized buckets are dropped with the same skew guard as entity
linking (hot boilerplate text floods a bucket; guard + per-bucket metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WORD_SPLIT = "\\s+"


def _docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))


def exact_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_k: int = 8,
    fanout: int = 64,
) -> DataFrame:
    """Groups of byte-identical texts:
    (text_hash, n_docs, canonical_id, sample_ids).

    Every per-group value is BOUNDED: ``canonical_id`` is the
    lexicographically smallest (string-cast) doc_id, ``sample_ids`` the
    ``sample_k`` smallest, comma-joined.  A degenerate corpus (billions of
    empty/boilerplate docs sharing one hash) previously produced a
    gigabytes-long concatenation of every member id in one aggregation
    value; now the group row is O(sample_k) regardless of group size.

    The sample uses the same two-stage top-k as sampling.stratified_fixed_k:
    stage 1 ranks inside (text_hash, xxhash64(doc_id) % fanout) splits —
    any id in the group's global top ``sample_k`` is also in its split's
    local top ``sample_k`` — bounding every sort at ~|group|/fanout rows.
    The group COUNT rides the same window exchange (whole-partition count,
    summed via the rank-1 representative of each split), so the whole
    operator is ONE scan and TWO exchanges: the split window (full data)
    and the final per-hash agg over the <= fanout*sample_k survivors.
    """
    from pyspark.sql import Window

    docs = _docs(df, id_col, text_col).select(
        F.sha2(F.col("text"), 256).alias("text_hash"),
        F.col("doc_id").cast("string").alias("doc_id"),
    )
    docs = docs.withColumn(
        "_split", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(fanout))
    )
    w_part = Window.partitionBy("text_hash", "_split")
    w_ord = w_part.orderBy("doc_id")
    survivors = (
        docs.withColumn("_r1", F.row_number().over(w_ord))
        .withColumn("_split_n", F.count(F.lit(1)).over(w_part))
        .filter(F.col("_r1") <= sample_k)
    )
    return (
        survivors.groupBy("text_hash")
        .agg(
            F.sum(F.when(F.col("_r1") == 1, F.col("_split_n")))
            .cast("long")
            .alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, sample_k),
                ",",
            ).alias("sample_ids"),
        )
        .filter(F.col("n_docs") > 1)
        .select("text_hash", "n_docs", "canonical_id", "sample_ids")
    )


def shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh_set) — distinct word-n-gram array per doc (map-only)."""
    toks = F.split(F.lower(F.col("text")), WORD_SPLIT)
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return df.select("doc_id", F.array_distinct(shingles).alias("sh_set"))


def word_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word-n-grams of lowercased text."""
    return shingle_arrays(df, n=n).select(
        "doc_id", F.explode("sh_set").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Brute-force exact jaccard pairs: (a, b, g_inter, g_union).

    Quadratic in documents *sharing a shingle* — the baseline/oracle form;
    use minhash_lsh_pairs at scale.
    """
    sh = word_shingles(_docs(df, id_col, text_col), n=n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("l")
        .join(sh.alias("r"), "shingle")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("g_inter"))
    )
    num = int(round(threshold * 1000))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .select(
            "a",
            "b",
            F.col("g_inter").cast("long").alias("g_inter"),
            (F.col("na") + F.col("nb") - F.col("g_inter")).cast("long").alias("g_union"),
        )
        .filter(F.col("g_inter") * 1000 >= F.col("g_union") * num)
    )


def minhash_band_keys(
    shingled: DataFrame, bands: int = 32, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, band_id, band_hash) — the LSH *index rows* for a corpus
    slice, computed entirely MAP-SIDE from ``shingle_arrays`` output.

    This is the persistable artifact of incremental ingestion: build it once
    for the base corpus (bucket the table by (band_id, band_hash) via
    ``storage.write_bucketed`` semantics) and each increment joins its own
    freshly-computed keys against it without touching base text.
    """
    num_hashes = bands * rows_per_band
    # NB: expression-string transform, NOT F.transform(.., lambda .. F.lit(j)):
    # pyspark collapses python-lambda HOFs that differ only in a captured
    # literal into ONE expression, silently making every hash identical
    # (recall then quietly degrades to min-shingle collision probability).
    sig = shingled.select(
        "doc_id",
        *[
            F.array_min(F.expr(f"transform(sh_set, s -> xxhash64(s, {j}))")).alias(
                f"h{j}"
            )
            for j in range(num_hashes)
        ],
    )
    band_cols = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.xxhash64(
                *[F.col(f"h{i * rows_per_band + r}") for r in range(rows_per_band)], F.lit(i)
            ).alias("band_hash"),
        )
        for i in range(bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", "bk.band_id", "bk.band_hash"
    )


def _bucket_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate (a, b) pairs within each (band_id, band_hash) bucket.

    ONE groupBy collects each bucket's (sorted) members and pairs them
    in-array — no self-join stage, no window sort, and the skew guard is
    simply `size(members) <= max_bucket` (a flooded bucket would otherwise
    emit k^2/2 pairs in one task).  Measured 3.05s vs 3.39s for the
    window+self-join form at sf0.1; two earlier variants (groupBy+anti-join
    guard, explicit repartition) measured 7.6s/6.9s because they recomputed
    the signature map-work per consumer.
    """
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    )
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (m, i) ->"
                " transform(slice(members, i + 2, size(members)),"
                " m2 -> struct(m as a, m2 as b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")


def _verify_jaccard(cands: DataFrame, lookup: DataFrame, threshold: float) -> DataFrame:
    """Exact-jaccard verification of candidate pairs via shingle-array
    intersection (JVM): lookup is (doc_id, sh_set)."""
    num = int(round(threshold * 1000))
    return (
        cands.join(
            lookup.select(F.col("doc_id").alias("a"), F.col("sh_set").alias("sa")), "a"
        )
        .join(
            lookup.select(F.col("doc_id").alias("b"), F.col("sh_set").alias("sb")), "b"
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("g_inter"),
            F.size(F.array_union("sa", "sb")).cast("long").alias("g_union"),
        )
        .filter(F.col("g_inter") * 1000 >= F.col("g_union") * num)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    max_bucket: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-jaccard verification.

    Same output schema as ngram_jaccard_pairs; equals it w.h.p. when
    (bands, rows_per_band) give recall ~1 at the threshold
    (P(miss) = (1 - t^r)^b; defaults: t=0.5 -> (0.75)^32 ~ 1e-4; raise bands
    for stricter parity).
    """
    # shingle arrays stay un-exploded: signatures are computed MAP-SIDE via
    # array_min(transform(...)) and verification reuses the same array —
    # no shuffle anywhere before the band-bucket join itself.
    docs = shingle_arrays(_docs(df, id_col, text_col), n=n).cache()
    banded = minhash_band_keys(docs, bands=bands, rows_per_band=rows_per_band)
    cands = _bucket_pairs(banded, max_bucket).distinct()
    return _verify_jaccard(cands, docs, threshold)


def canonical_docs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end near-dup curation: one keep/drop decision PER DOCUMENT.

    Pair lists (minhash_lsh_pairs) are evidence, not a decision — a corpus
    pipeline needs "which copy do I keep?".  Near-dup similarity is not
    transitive, so pairs are clustered with connected components (cc.py's
    checkpointed min-propagation; transitive closure is the standard
    conservative policy) and the smallest doc_id in each cluster is kept.

    Returns every input document: (doc_id, canonical_id, is_canonical).
    Deterministic at any parallelism — canonical choice is content-ordered,
    not partition-ordered.  Scale shape: LSH blocking + CC iterations +
    one broadcast-or-shuffle left join back to the corpus ids.
    """
    from .cc import connected_components

    pairs = minhash_lsh_pairs(
        df,
        threshold=threshold,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        id_col=id_col,
        text_col=text_col,
    )
    labels = connected_components(pairs, "a", "b").withColumnRenamed(
        "node_id", "doc_id"
    )
    return (
        _docs(df, id_col, text_col)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens: (doc_id, simhash long).

    Shape note: explode + groupBy looks shuffle-heavy but is scale-correct —
    the 64 vote sums partially aggregate MAP-SIDE, so the exchange carries
    |docs| x 64 longs, not |tokens| rows.  (A per-row ``aggregate`` over a
    token-hash array avoids even that shuffle but re-traverses the array 64x
    outside codegen — measured 2.5x slower; see PLANS.md.)
    """
    toks = _docs(df, id_col, text_col).select(
        "doc_id", F.explode(F.split(F.lower("text"), WORD_SPLIT)).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.withColumn("h", F.xxhash64("tok"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        bit_val = 2**b if b < 63 else -(2**63)  # two's-complement sign bit
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the 64-bit hash into (max_hamming+1) chunks — by the
    pigeonhole principle any pair within distance d shares a chunk.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    # width=64 (max_hamming=0): mask would overflow a long; the chunk IS the hash
    mask = F.lit(-1).cast("long") if width >= 64 else F.lit((1 << width) - 1).cast("long")
    sims = simhash64(df, id_col, text_col)
    chunk_cols = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.shiftright(F.col("simhash"), c * width)
            .bitwiseAND(mask)
            .alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    banded = sims.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("doc_id", "simhash", "ck.chunk_id", "ck.chunk_val")
    # same in-array pair generation as minhash_lsh_pairs: one groupBy per
    # chunk bucket, members paired with a nested transform — no self-join
    buckets = (
        banded.groupBy("chunk_id", "chunk_val")
        .agg(
            F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias(
                "members"
            )
        )
        .filter(F.size("members") >= 2)
    )
    cands = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m, i) ->"
                    " transform(slice(members, i + 2, size(members)),"
                    " m2 -> struct(m.doc_id as a, m2.doc_id as b,"
                    "              m.simhash as sa, m2.simhash as sb))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", "p.sa", "p.sb")
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
    )


def incremental_minhash_pairs(
    new_df: DataFrame,
    base_df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    max_bucket: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_index: DataFrame | None = None,
    base_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING at least one document of an increment.

    The 100 TB ingestion shape: when a shard arrives into an already-deduped
    corpus, re-running LSH over base∪increment re-shuffles the whole corpus
    for every shard.  Instead the base corpus is represented by its
    persisted band-key index (``minhash_band_keys``; pass ``base_index`` to
    skip recomputation — on a real cluster it is a table bucketed by
    (band_id, band_hash), making the candidate join co-located), and only
    the increment computes fresh signatures.  Candidates:

    * new × base — equi-join of the increment's band keys against the index
      (cost ∝ increment, never base²);
    * new × new  — the standard in-array bucket pairing within the increment.

    Verification is exact jaccard over shingle arrays, semi-join-pruned to
    candidate ids: with a persisted index the base corpus is scanned exactly
    once (the verify pass), and only colliding docs' shingle arrays cross
    the verify shuffle.  Output schema matches ngram_jaccard_pairs with
    (a < b) canonical ordering and equals the brute force restricted to
    pairs touching the increment w.h.p.
    """
    sh_new = shingle_arrays(_docs(new_df, id_col, text_col), n=n).cache()
    sh_base = shingle_arrays(_docs(base_df, id_col, text_col), n=n)
    new_keys = minhash_band_keys(sh_new, bands=bands, rows_per_band=rows_per_band)
    if base_index is None:
        base_index = minhash_band_keys(
            sh_base, bands=bands, rows_per_band=rows_per_band
        )
    # SYMMETRIC skew guard, same semantics as the batch operator's combined
    # `size(members) <= max_bucket`: a bucket flooded from EITHER side (hot
    # boilerplate arriving in the increment is exactly as pathological as
    # hot boilerplate already ingested) is dropped from cross-pairing.  The
    # hot set is tiny by construction (|keys|/max_bucket upper bound), so it
    # broadcasts into two map-side anti-joins.  ``base_bucket_counts`` is the
    # second persistable index artifact — (band_id, band_hash, _n) written
    # once at base-ingest time — so an increment never re-aggregates the
    # full base index just to find hot buckets; the default recomputes it.
    if base_bucket_counts is None:
        base_bucket_counts = base_index.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("_n")
        )
    hot = (
        new_keys.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .unionAll(base_bucket_counts)
        .groupBy("band_id", "band_hash")
        .agg(F.sum("_n").alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select("band_id", "band_hash")
    )
    new_g = new_keys.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")
    base_g = base_index.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")

    cross = (
        new_g.alias("n")
        .join(base_g.alias("x"), ["band_id", "band_hash"])
        .filter(F.col("n.doc_id") != F.col("x.doc_id"))
        .select(
            F.least(F.col("n.doc_id"), F.col("x.doc_id")).alias("a"),
            F.greatest(F.col("n.doc_id"), F.col("x.doc_id")).alias("b"),
        )
    )
    within = _bucket_pairs(new_g, max_bucket)
    # the candidate set is tiny (colliding pairs only) but read three times
    # (touched-id pruning + both verify joins) — materialize it once
    cands = cross.union(within).distinct().cache()
    # base shingles enter verification only for docs that actually collide:
    # the semi-join prunes the shuffle to touched ids (the base corpus is
    # still SCANNED once here — with a persisted index that scan is the only
    # base read in the whole operator)
    touched = (
        cands.select(F.col("a").alias("doc_id"))
        .union(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    lookup = sh_new.unionAll(sh_base.join(touched, "doc_id", "left_semi"))
    return _verify_jaccard(cands, lookup, threshold)


# ---------------------------------------------------------------------------
# Span (chunk) level dedup — C4/RefinedWeb-style boilerplate removal.
# Documents are cut into consecutive fixed-width token chunks ENTIRELY
# map-side (sequence+slice over the split array — no explode/groupBy
# round-trip); the only full-data shuffle is the chunk-frequency aggregate.
# Chunks shared by >= min_docs documents are "boilerplate"; the hot set is
# tiny by construction (it's the output of a HAVING >= min_docs filter), so
# it broadcasts and removal is a map-side anti-join.
# ---------------------------------------------------------------------------


def _doc_chunks(docs: DataFrame, chunk_tokens: int) -> DataFrame:
    """(doc_id, cidx, chunk, n_chunks): consecutive token windows, map-only."""
    arr = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(arr) / F.lit(chunk_tokens)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            i.cast("long").alias("cidx"),
            F.array_join(
                F.slice(arr, i * chunk_tokens + 1, chunk_tokens), " "
            ).alias("chunk"),
        ),
    )
    return docs.select(
        "doc_id", n_chunks.alias("n_chunks"), F.explode(chunks).alias("c")
    ).select("doc_id", "n_chunks", "c.cidx", "c.chunk")


def boilerplate_chunks(
    df: DataFrame,
    chunk_tokens: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunks appearing in >= min_docs distinct docs: (chunk_hash, n_docs).

    One shuffle (the frequency groupBy, map-side partial agg on the hash);
    output is the HOT SET only — small enough to broadcast at any corpus
    scale (its size is bounded by |corpus chunks| / min_docs).
    """
    chunks = _doc_chunks(_docs(df, id_col, text_col), chunk_tokens)
    return (
        chunks.groupBy(F.sha2(F.col("chunk"), 256).alias("chunk_hash"))
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    chunk_tokens: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strip globally-repeated chunks from every doc:
    (doc_id, n_chunks, n_removed, clean_text).

    clean_text preserves the original order of the surviving chunks; a doc
    whose every chunk is boilerplate yields clean_text = '' (it stays in
    the output — curation decides whether to drop it).  Shuffle budget:
    frequency agg + per-doc regroup = 2 exchanges total; the hot-set join
    is a broadcast LEFT join that merely FLAGS each chunk, so every doc
    survives into the single regroup (no join-back pass, no third scan).
    """
    docs = _docs(df, id_col, text_col)
    chunks = _doc_chunks(docs, chunk_tokens)
    hot = boilerplate_chunks(df, chunk_tokens, min_docs, id_col, text_col)
    flagged = chunks.join(
        F.broadcast(hot),
        F.sha2(F.col("chunk"), 256) == hot.chunk_hash,
        "left",
    ).select(
        "doc_id",
        "cidx",
        "chunk",
        F.col("chunk_hash").isNotNull().alias("is_hot"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("cidx", "chunk", "is_hot"))
                    ),
                    lambda s: ~s.is_hot,
                ),
                lambda s: s.chunk,
            ),
            " ",
        ).alias("clean_text"),
    )


# separator inside a window's hash payload: the unit-separator control
# character cannot appear in whitespace-split tokens, so distinct token
# sequences never collide by concatenation
_SPAN_SEP = "\x1f"


def duplicated_span_scrub(
    df: DataFrame,
    width: int = 16,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr-style duplicated-span removal: any ``width``-token run
    appearing in >= ``min_docs`` DISTINCT documents is scrubbed from all
    of them -> (doc_id, n_dup_windows, clean_text).

    Reference basis: Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499), the ExactSubstr variant —
    cross-doc verbatim passages (license boilerplate, quoted chains,
    templated spans) are removed at SPAN granularity, not document
    granularity.  Their suffix array is a single-machine construction;
    the Spark-shaped equivalent is stride-1 shingling.

    Plan shape: window hashes are computed IN-ARRAY per document (one
    ``transform`` over the token array — map-side), exploded only into
    the (doc_id, start, hash) stream feeding ONE map-side-combined
    hash-agg that finds hot windows; hot starts join back (sliver-sized:
    duplication is the exception) and span coverage + text rebuild are
    again in-array Column work.  The sha256 window key makes the decision
    oracle-replayable (DuckDB sha256 == Spark sha2 on identical bytes).

    Within-doc repetition alone does NOT trigger a scrub (min_docs counts
    distinct documents).  Documents shorter than ``width``
    tokens pass through unchanged; ``clean_text`` is rebuilt from the
    token array with single spaces (the canonical form the oracle
    aggregates too).
    """
    if width < 2:
        raise ValueError("width must be >= 2")
    toks = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    sh = (
        base.filter(F.col("n") >= width)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - width),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.sha2(
                            F.concat_ws(
                                _SPAN_SEP,
                                F.slice(F.col("toks"), i + 1, width),
                            ),
                            256,
                        ).alias("h"),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", "w.start", "w.h")
    )
    hot = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    hot_starts = (
        sh.join(hot, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("start")).alias("starts"))
    )

    # merge the sorted starts into disjoint covered INTERVALS before the
    # per-token test: a heavily-duplicated doc has |starts| ~ n, and
    # exists-over-starts would make the rebuild O(n^2) per doc — after the
    # merge a fully-duplicated doc is ONE interval and the test is
    # O(n * |gaps|)
    intervals = F.aggregate(
        F.col("starts"),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(acc, -1)["hi"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + width).cast("int").alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.cast("int").alias("lo"),
                        (s + width).cast("int").alias("hi"),
                    )
                ),
            )
        ),
    )

    def _covered(i):
        return F.exists(
            F.col("_iv"), lambda v: (v["lo"] <= i) & (i < v["hi"])
        )

    return (
        base.join(hot_starts, "doc_id", "left")
        .withColumn(
            "starts", F.coalesce("starts", F.array().cast("array<int>"))
        )
        .withColumn("_iv", intervals)
        .select(
            "doc_id",
            F.size("starts").cast("long").alias("n_dup_windows"),
            F.concat_ws(
                " ",
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.col("n") - 1),
                        lambda i: F.when(
                            ~_covered(i), F.element_at(F.col("toks"), i + 1)
                        ),
                    ),
                    lambda x: x.isNotNull(),
                ),
            ).alias("clean_text"),
        )
    )
