"""Deduplication suite for training-data pipelines (SURVEY.md §2.9 extension;
BASELINE.json north-star). The reference has no dedup of any kind — these are
the operators a 100 TB corpus pipeline needs, each expressed Spark-first.

Portability contract with the DuckDB oracle: every hash is md5-hex (identical
in both engines); token normalization is whitespace-collapse + lowercase;
shingles are explicit 3-token joins. No engine-specific hash functions
(Spark's murmur3 `hash()` would be unmatchable).

Scale notes:
- exact dedup: one shuffle on the text hash (never on the full text).
- MinHash LSH: per-row signatures are narrow (partition-local); candidate
  generation shuffles (band_id, band_key) — rows = docs x bands, each tiny.
  Bucket join + distinct pairs is the classic O(candidates) instead of
  O(N^2) pairwise.
- SimHash: narrow per-row compute; near-dup groups = one shuffle on the
  32-bit signature.
- n-gram Jaccard / embedding-cosine: O(block^2) pairwise, gated by a
  blocking key (prefix / cluster id) — the standard blocking trick; at
  100 TB the block key is the shuffle key and AQE splits skewed blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectolite_spark.localframe import local_df

# One cached intermediate per operator, replaced (and unpersisted) on the
# next call: repeated invocations — bench loops over the whole registry —
# must not accumulate cached blocks in executor storage memory for the
# session's lifetime.  The previous result can still be recomputed if a
# caller re-collects it after the cache is dropped; only the cache entry
# goes away, not correctness.
_MANAGED_CACHES: dict[str, DataFrame] = {}


def _managed_cache(key: str, df: DataFrame) -> DataFrame:
    prev = _MANAGED_CACHES.pop(key, None)
    if prev is not None:
        prev.unpersist(blocking=False)
    _MANAGED_CACHES[key] = df.cache()
    return _MANAGED_CACHES[key]


def clear_managed_caches() -> None:
    """Unpersist every managed cache. Long-lived sessions that sweep MANY
    operators (bench, the oracle gate) call this between queries so one
    operator's cached working set cannot squeeze execution memory for the
    next — a dozen lingering caches measurably slowed unrelated
    mapInPandas stages late in a 200-query sweep."""
    for key in list(_MANAGED_CACHES):
        _MANAGED_CACHES.pop(key).unpersist(blocking=False)


def widen_small_input(df: DataFrame, min_factor: int = 2) -> DataFrame:
    """Spread a small input across the cluster before a per-row-expensive
    (Arrow UDF) stage.

    A single parquet file with one row group scans as ONE task no matter
    what maxPartitionBytes says, so a costly per-row stage runs on one
    core. When the scan has far fewer partitions than the cluster has
    slots, one narrow shuffle of the raw rows buys full parallelism. At
    100 TB the source already has thousands of splits and this is a
    NO-OP — it never adds a shuffle to an already-parallel input."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor <= target:
        return df.repartition(target)
    return df


def norm_tokens(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, split on single spaces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), " ")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """3-token shingles as strings; docs shorter than n tokens fall back to
    the whole token string (so every doc has >= 1 shingle)."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(tokens) >= n, joined).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-groupBy on the text, keep the lowest id.
    Returns (keep_id, dup_count) per distinct text."""
    return df.groupBy(F.sha2(F.col(text_col), 256).alias("_h")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    ).drop("_h")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature: for hash family member h, the minimum of
    md5('h:' || shingle) over the doc's 3-token shingles. md5-string min is
    order-isomorphic to a numeric minhash and portable across engines.
    Narrow (no shuffle)."""
    from vectolite_spark._pandas_udfs import make_shingle_udf

    # explode + groupBy instead of per-row array_min(transform(...)):
    # md5/concat are whole-stage-codegen scalars (interpreted HOF lambdas
    # cost ~ms/row), and the min() aggregate combines map-side, so the one
    # shuffle moves only num_hashes 32-byte minima per doc at any scale.
    exploded = widen_small_input(df).select(
        F.col(id_col), F.explode(make_shingle_udf()(F.col(text_col))).alias("s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("s")))).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    min_est_sim: float = 0.5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over MinHash signatures.

    bands of rows=num_hashes/bands; docs sharing ANY band bucket become a
    candidate pair; estimated similarity = fraction of matching minhashes.
    Buckets larger than ``max_bucket_size`` are skipped — the standard LSH
    guard against O(bucket^2) blowup on degenerate buckets (a hot bucket of
    10k docs is 50M pairs; its members are almost never true near-dups of
    each other anyway at reasonable band widths).

    Returns (doc_a, doc_b, est_sim) with doc_a < doc_b, est_sim >= threshold.
    """
    rows_per_band = num_hashes // bands
    sigs = _managed_cache(
        "minhash_sigs", minhash_signatures(df, text_col, id_col, num_hashes)
    )
    band_rows = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    # bucket cap via COUNT OVER (PARTITION BY band) — one shuffle on the
    # band key (which the self-join below needs anyway) instead of a
    # groupBy+semi-join round trip; the CACHED relation is the filtered
    # one, so neither join side recomputes the window
    from pyspark.sql import Window

    bc = F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key"))
    band_rows = _managed_cache(
        "minhash_bands",
        band_rows.withColumn("_bc", bc)
        .filter(F.col("_bc") <= max_bucket_size)
        .drop("_bc"),
    )
    a = band_rows.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("doc_a")
    )
    b = band_rows.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("doc_b")
    )
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.select(
        F.col(id_col).alias("doc_a"), *[F.col(f"mh{h}").alias(f"a{h}") for h in range(num_hashes)]
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"), *[F.col(f"mh{h}").alias(f"b{h}") for h in range(num_hashes)]
    )
    matches = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(num_hashes)), 6).alias("est_sim"),
        )
        .filter(F.col("est_sim") >= min_est_sim)
    )


def minhash_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    t: float = 0.5,
    query_max_id: int = 100,
    recall_floor: float = 0.5,
) -> DataFrame:
    """End-to-end recall contract for the MinHash-LSH dedup pipeline —
    the dedup twin of ``ann_mllib_lsh_recall``: ground truth is EXACT
    shingle-set Jaccard >= ``t`` over pairs touching a fixed query cohort
    (doc_id < ``query_max_id``), the measured system is the full
    ``minhash_lsh_pairs`` path (banded buckets, hot-bucket cap, est-sim
    filter) exactly as a curation run uses it. One row:
    (n_true, n_hit, recall, recall_floor).

    The exact side is an inverted-index join (query docs' postings vs
    the corpus postings — docs sharing zero shingles have J = 0 < t, so
    restricting to >= 1 shared shingle loses nothing), which is the
    standard bounded way to ground-truth a similarity index without the
    N^2 pair space; the cohort keeps it query-docs x postings. Both
    sides share the same shingle UDF the signatures use, so the oracle
    derives identical sets. At 100 TB this is an offline eval job over a
    sampled cohort — the number a curation run quotes when it picks
    (num_hashes, bands) for a target J threshold."""
    from vectolite_spark._pandas_udfs import make_shingle_udf

    sh = _managed_cache(
        "mh_recall_shingles",
        widen_small_input(df).select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(make_shingle_udf()(F.col(text_col))).alias(
                "shingles"
            ),
        ),
    )
    post = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
    qp = post.filter(F.col("doc_id") < query_max_id)
    # both-in-cohort pairs would otherwise join in both orientations;
    # requiring a<b inside the cohort counts each pair exactly once
    # (outside the cohort, b >= query_max_id > a already implies a<b)
    shared = (
        qp.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("a.doc_id") < F.col("b.doc_id"))
                | (F.col("b.doc_id") >= query_max_id)
            ),
        )
        .groupBy(
            F.least("a.doc_id", "b.doc_id").alias("lo"),
            F.greatest("a.doc_id", "b.doc_id").alias("hi"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    truth = (
        shared.join(
            sizes.select(F.col("doc_id").alias("lo"), F.col("sz").alias("sza")),
            "lo",
        )
        .join(
            sizes.select(F.col("doc_id").alias("hi"), F.col("sz").alias("szb")),
            "hi",
        )
        .filter(
            F.col("shared")
            / (F.col("sza") + F.col("szb") - F.col("shared"))
            >= t
        )
        .select("lo", "hi")
        .distinct()
    )
    lsh = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands
    ).filter(
        (F.col("doc_a") < query_max_id) | (F.col("doc_b") < query_max_id)
    )
    hit = truth.join(
        lsh.select(F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")),
        ["lo", "hi"],
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n")).alias("t")
    n_hit = hit.agg(F.count(F.lit(1)).cast("long").alias("n")).alias("h")
    return n_true.crossJoin(F.broadcast(n_hit)).select(
        F.col("t.n").alias("n_true"),
        F.col("h.n").alias("n_hit"),
        F.round(
            F.when(F.col("t.n") == 0, F.lit(1.0)).otherwise(
                F.col("h.n").cast("double") / F.col("t.n")
            ),
            6,
        ).alias("recall"),
        F.lit(float(recall_floor)).alias("recall_floor"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash: each token hashes to `bits` bits (leading hex of its
    md5); bit j of the signature is the sign of the +1/-1 vote sum across
    tokens. Portable: md5 + hex-nibble parse exist in both engines.
    Returns (id, simhash). Narrow (no shuffle).

    Default 32 bits: a 16-bit space (65 536 buckets) saturates around 1e5
    docs — every bucket goes hot, the bucket-size caps start discarding
    everything, and "same signature" stops meaning "similar". 32 bits
    (4.3e9 buckets) holds to ~1e9 docs; go 48 for more (stay below 63 so
    the 1 << j probe masks and the oracle's BIGINT sums never touch the
    sign bit).

    One Arrow-batched pass per row (the pure-expression form — ``bits``
    chained interpreted aggregate() folds — took 18 s at sf0.1 under
    ``simhash_near_pairs``' probes; it is the parity reference in the
    tests)."""
    from vectolite_spark._pandas_udfs import make_simhash_udf

    return widen_small_input(df).select(
        F.col(id_col), make_simhash_udf(bits)(F.col(text_col)).alias("simhash")
    )


def simhash_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Docs sharing an identical SimHash (hamming distance 0 blocking).
    One shuffle on the signature."""
    s = simhash(df, text_col, id_col, bits)
    return s.groupBy("simhash").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size")
    ).filter(F.col("group_size") > 1)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    radius: int = 1,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= ``radius`` (0 or 1) WITHOUT the
    O(N^2) signature cross-join: side A emits its signature as the probe
    key, side B emits the signature plus every single-bit flip (bits+1
    probes/doc for r=1, 33 at the default width), and the probe-key equi-join surfaces exactly the
    pairs with sig_a in {sig_b} U {sig_b ^ 2^j} — i.e. distance <= 1. A
    final bit_count filter keeps the contract exact and r=0 a special case.

    Each qualifying pair appears exactly once: A emits one probe, at most
    one of B's bits+1 distinct probes can equal it, and the id ordering
    keeps one direction — no distinct() pass needed.

    Probe buckets larger than ``max_bucket_size`` are skipped (the LSH
    guard): a signature shared by thousands of docs is degenerate template
    text and would go O(bucket^2). Note probe buckets pool one signature
    plus its ``bits`` one-bit neighbors, so they run ~``bits``x larger
    than raw signature groups — size the cap accordingly (default 1000 ~
    a 60-doc hot signature). Returns (doc_a, doc_b, hamming)."""
    if radius not in (0, 1):
        raise ValueError("radius must be 0 or 1 (bit-flip probing)")
    # materialize once: the signature table feeds both join sides AND the
    # bucket-count guard — three consumers of an Arrow-UDF result
    s = _managed_cache("simhash_sigs", simhash(df, text_col, id_col, bits))
    a = s.select(
        F.col(id_col).alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        F.col("simhash").alias("probe"),
    )
    if radius == 0:
        probes = F.array(F.col("simhash"))
    else:
        probes = F.array(
            F.col("simhash"),
            *[F.col("simhash").bitwiseXOR(F.lit(1 << j)) for j in range(bits)],
        )
    b = s.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        F.explode(probes).alias("probe"),
    )
    from pyspark.sql import Window

    # probe-bucket cap as COUNT OVER (PARTITION BY probe): one shuffle on
    # the probe key the join below needs anyway, no groupBy+semi round trip
    bc = F.count(F.lit(1)).over(Window.partitionBy("probe"))
    b = b.withColumn("_bc", bc).filter(F.col("_bc") <= max_bucket_size).drop("_bc")
    return (
        a.join(b, "probe")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_prefix: int = 40,
    min_jaccard: float = 0.6,
    max_block_size: int = 200,
) -> DataFrame:
    """Pairwise word-3-gram Jaccard within prefix blocks.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Blocks larger than ``max_block_size`` are skipped — same guard as
    ``minhash_lsh_pairs``: a boilerplate-heavy corpus puts thousands of
    docs behind one 40-char prefix and the self-join goes O(block^2); a
    block that common is template text, not a near-dup signal. The scale
    path for those is MinHash LSH, whose banding keys on the whole
    document, not a prefix."""
    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import make_shingle_udf

    # shingles via one Arrow batch per partition; the block-size cap is a
    # COUNT OVER (PARTITION BY block) on the same relation — ONE shuffle on
    # block (which the self-join needs anyway) instead of the r2
    # groupBy+semi-join round trip (VERDICT r2 item 5). The CACHED relation
    # is the already-filtered one, so neither join side recomputes the
    # window or the shingle UDF.
    base = widen_small_input(df).select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, block_prefix).alias("block"),
        F.array_distinct(make_shingle_udf()(F.col(text_col))).alias("sh"),
    )
    bc = F.count(F.lit(1)).over(Window.partitionBy("block"))
    sh = _managed_cache(
        "ngram_shingles",
        base.withColumn("_bc", bc).filter(F.col("_bc") <= max_block_size).drop("_bc"),
    )
    a = sh.select(
        F.col("block"), F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(
        F.col("block"), F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            # unrounded int/int IEEE division — bit-identical across
            # engines, while ROUND(x, 6) diverges when a power-of-2 union
            # size (e.g. 128 shingles) parks the exact value on a decimal
            # half-boundary (the text_quality landmine class)
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    min_score: float = 0.3,
    max_block_size: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs: pairwise cosine within a blocking key
    (cluster id / LSH bucket). Returns (id_a, id_b, score) with id_a < id_b,
    score >= threshold (rounded 6dp, same contract as topk).

    Plan: ONE shuffle grouping each block onto an executor, then a single
    upper-triangle (B x d) @ (d x B) matmul per block via applyInPandas —
    never an interpreted per-pair fold. Blocks larger than
    ``max_block_size`` are skipped (semi-join on block counts) so a hot
    label can neither OOM the executor holding its (B x B) score matrix
    nor dominate the stage; at 100 TB blocks come from the IVF/LSH index,
    not a full table, and oversized ones should be re-blocked there."""
    from vectolite_spark._pandas_udfs import make_block_cosine_pairs_fn

    fn = make_block_cosine_pairs_fn(min_score)
    normalized = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("vec_id"),
        "embedding",
    )
    # block cap via COUNT OVER (PARTITION BY block): the window's hash
    # partitioning on block already satisfies applyInPandas's grouping
    # distribution, so the cap costs ZERO extra shuffles (vs the old
    # groupBy+semi-join round trip)
    from pyspark.sql import Window

    bc = F.count(F.lit(1)).over(Window.partitionBy("block"))
    normalized = (
        normalized.withColumn("_bc", bc)
        .filter(F.col("_bc") <= max_block_size)
        .drop("_bc")
    )
    return normalized.groupBy("block").applyInPandas(
        fn, schema="id_a long, id_b long, score double"
    )


def semdedup_prune(
    embeddings: DataFrame,
    tau: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    max_block_size: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication SCOPED TO EMBEDDING CLUSTERS — pairwise cosine is
    computed only within a cluster (here the ``label`` column; in the
    paper, k-means cells), and of each near-duplicate pair one member is
    pruned. Deterministic keep rule: the LOWER id survives (a vector is
    pruned iff some lower-id cluster-mate has cosine >= tau to it) — the
    paper keeps the member farthest from the centroid; id-order is the
    engine-exact equivalent the oracle can replay bit-for-bit.

    Returns the per-cluster curation audit a pipeline operator reports:
    (cluster, n_members, n_pruned, n_kept, kept_id_sum, capped) —
    kept_id_sum is the order-insensitive checksum of the surviving ids,
    so the oracle verifies the exact KEEP SET, not just its size.
    ``capped=1`` marks a cluster larger than ``max_block_size`` whose
    pairwise pass was SKIPPED (everything reported kept): without the
    flag the audit would claim "nothing pruned" for exactly the hottest
    clusters — the caller must re-block those upstream (finer IVF
    cells), and the flag is what tells them to.

    Scale shape: inherits ``embedding_cosine_pairs``' plan — ONE shuffle
    co-locating each cluster, one upper-triangle matmul per cluster
    block, hot clusters capped at ``max_block_size`` (at 100 TB the
    clusters come from the IVF index and oversized cells are re-split
    there, exactly the paper's k-means-before-pairwise reason to exist).
    The prune flag then joins back as a broadcast of the (small)
    pruned-id set. No reference counterpart — north-star extension."""
    pairs = embedding_cosine_pairs(
        embeddings,
        block_col=block_col,
        id_col=id_col,
        min_score=tau,
        max_block_size=max_block_size,
    )
    pruned = pairs.select(F.col("id_b").alias(id_col)).distinct()
    flagged = embeddings.select(block_col, id_col).join(
        F.broadcast(pruned.withColumn("_pruned", F.lit(1))), id_col, "left"
    )
    return (
        flagged.groupBy(F.col(block_col).alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.coalesce(F.col("_pruned"), F.lit(0)))
            .cast("long")
            .alias("n_pruned"),
            F.sum(F.when(F.col("_pruned").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("_pruned").isNull(), F.col(id_col)).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .withColumn(
            "capped",
            (F.col("n_members") > F.lit(int(max_block_size))).cast("long"),
        )
    )


def semdedup_incremental(
    base: DataFrame,
    delta: DataFrame,
    tau: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    max_block_size: int = 1000,
) -> DataFrame:
    """Incremental SemDeDup over a changed-data feed (VERDICT r7 item 5):
    judge ONLY the delta. ``base`` is the already-curated keep set,
    ``delta`` the newly-committed vectors (e.g.
    ``SnapshotStore.read_changes``); a delta member is pruned iff some
    cluster-mate ranked before it (any base member, or a lower-id delta
    member) has rounded cosine >= tau. Base members are never re-judged
    — their cycle already ran — so per ingest the cost is O(|delta|)
    cluster assignments + a (D x B) matmul per AFFECTED cluster, while
    re-running batch ``semdedup_prune`` over base ∪ delta would pay the
    full (B x B) pass on 100 TB of already-curated corpus every cycle.
    When delta ids exceed base ids (the normal append) the grown keep
    set is bit-identical to the batch result over the union.

    Plan: delta's distinct clusters broadcast-semi-join the base (only
    affected clusters' members move), ONE shuffle co-locates each
    affected cluster, one (D x B) matmul per cluster emits delta
    verdicts. Clusters whose total size exceeds ``max_block_size`` are
    skipped and surfaced with ``capped=1`` / everything kept (same
    audit honesty as ``semdedup_prune``). Returns per-cluster audit:
    (cluster, n_members, n_delta, n_pruned, n_kept, kept_id_sum,
    capped); kept_id_sum checksums the surviving DELTA ids."""
    from vectolite_spark._pandas_udfs import make_incremental_semdedup_fn

    d = delta.select(
        F.col(block_col).cast("long").alias("block"),
        F.col(id_col).alias("vec_id"),
        "embedding",
        F.lit(1).alias("is_delta"),
    )
    affected = d.select("block").distinct()
    b = base.select(
        F.col(block_col).cast("long").alias("block"),
        F.col(id_col).alias("vec_id"),
        "embedding",
        F.lit(0).alias("is_delta"),
    ).join(F.broadcast(affected), "block", "left_semi")
    work = b.unionByName(d)
    # block cap via COUNT OVER: same zero-extra-shuffle device as
    # embedding_cosine_pairs — the window's hash partitioning on block
    # already satisfies applyInPandas's grouping distribution
    from pyspark.sql import Window

    sized = work.withColumn(
        "_bc", F.count(F.lit(1)).over(Window.partitionBy("block"))
    )
    small = sized.filter(F.col("_bc") <= max_block_size).drop("_bc")
    fn = make_incremental_semdedup_fn(tau)
    verdicts = small.groupBy("block").applyInPandas(
        fn, schema="block long, vec_id long, pruned long"
    )
    sizes = work.groupBy("block").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        d.join(verdicts.select("vec_id", "pruned"), "vec_id", "left")
        .groupBy(F.col("block").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_delta"),
            F.sum(F.coalesce(F.col("pruned"), F.lit(0)))
            .cast("long")
            .alias("n_pruned"),
            F.sum(
                F.when(F.coalesce(F.col("pruned"), F.lit(0)) == 0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(
                    F.coalesce(F.col("pruned"), F.lit(0)) == 0,
                    F.col("vec_id"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .join(sizes.withColumnRenamed("block", "cluster"), "cluster")
        .withColumn(
            "capped",
            (F.col("n_members") > F.lit(int(max_block_size))).cast("long"),
        )
        .select(
            "cluster",
            "n_members",
            "n_delta",
            "n_pruned",
            "n_kept",
            "kept_id_sum",
            "capped",
        )
    )


def embedding_srp_pairs(
    embeddings: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    min_score: float = 0.8,
    max_block_size: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a precomputed label/cluster column:
    blocks come from signed-random-projection LSH (md5-derived Rademacher
    hyperplanes — deterministic AND oracle-portable, see
    ``make_srp_bucket_mapper``), the 100 TB answer to "where do the blocks
    come from" that ``embedding_cosine_pairs`` leaves to the caller.

    Plan: one narrow matmul stage emits (vector, table:bucket) rows
    (n_tables rows per vector), one shuffle groups each bucket, one
    upper-triangle matmul per bucket scores pairs exactly, and distinct()
    merges pairs surfaced by multiple tables. Recall for pairs at cosine
    ~0.9 with 4 tables of 8 planes is ~0.9; misses are the LSH trade —
    the exact-within-block scores carry no approximation."""
    from vectolite_spark._pandas_udfs import (
        make_block_cosine_pairs_fn,
        make_srp_bucket_mapper,
    )

    mapper = make_srp_bucket_mapper(n_tables, n_planes)
    bucketed = (
        widen_small_input(embeddings)
        .select(F.col(id_col).alias("vec_id"), "embedding")
        .mapInPandas(
            mapper, schema="vec_id long, embedding array<float>, block string"
        )
    )
    # same zero-extra-shuffle window cap as embedding_cosine_pairs
    from pyspark.sql import Window

    bc = F.count(F.lit(1)).over(Window.partitionBy("block"))
    bucketed = (
        bucketed.withColumn("_bc", bc)
        .filter(F.col("_bc") <= max_block_size)
        .drop("_bc")
    )
    fn = make_block_cosine_pairs_fn(min_score)
    return (
        bucketed.groupBy("block")
        .applyInPandas(fn, schema="id_a long, id_b long, score double")
        .distinct()
    )


def srp_hard_negatives(
    embeddings: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 3,
    max_block_size: int = 1000,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for each
    anchor vector, the top-k most-similar vectors carrying a DIFFERENT
    label — the negatives that actually move a contrastive loss, found
    without an O(n^2) similarity join.

    Candidates come from the same deterministic SRP-LSH blocking as
    ``embedding_srp_pairs`` (md5-Rademacher planes, so the DuckDB oracle
    derives identical buckets); within a block the label filter runs
    BEFORE the cosine, and scoring stays entirely JVM-side: zip_with +
    left-to-right aggregate over double-cast components — the same
    summation order as DuckDB's list_dot_product, so scores are
    bit-identical pre-rounding. Per-anchor ranking is a window over the
    distinct candidate set ordered by (rounded score desc, neg_id).

    At 100 TB: one narrow mapInPandas stage per vector batch, one label
    join co-partitioned on vec_id, the block self-join shuffles only
    capped buckets (hot buckets dropped by the zero-extra-shuffle window
    cap), and the final window partitions by anchor — no stage touches
    the full pair space."""
    from pyspark.sql import Window

    cand = _srp_scored_candidates(
        embeddings, n_tables, n_planes, id_col, label_col, max_block_size
    ).filter(~F.col("same_label"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), F.asc("other_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            F.col("other_id").alias("neg_id"),
            F.col("rank").cast("int").alias("neg_rank"),
            "score",
        )
    )


def _srp_scored_candidates(
    embeddings: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    label_col: str = "label",
    max_block_size: int = 1000,
) -> DataFrame:
    """Shared SRP-block candidate kernel: distinct (anchor_id, other_id,
    same_label, score) pairs from capped LSH buckets, cosine scored with
    the left-to-right JVM fold ``functions.vector.dot_product``
    (bit-identical to DuckDB's list_dot_product). Feeds hard-negative
    mining (different-label side) and contrastive triplet assembly (both
    sides from ONE pass)."""
    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import make_srp_bucket_mapper
    from vectolite_spark.functions.vector import dot_product

    mapper = make_srp_bucket_mapper(n_tables, n_planes)
    bucketed = (
        widen_small_input(embeddings.select(F.col(id_col).alias("vec_id"), "embedding"))
        .mapInPandas(
            mapper, schema="vec_id long, embedding array<float>, block string"
        )
    )
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    # Labels join FIRST, then one explicit block-keyed repartition that
    # BOTH the cap window and the O(block^2) self-join ride (the
    # blocked_fuzzy_pairs / jaccard_prefix_join fix: bucket rows are
    # byte-tiny, so AQE's byte-based coalesce would otherwise fold the
    # CPU-heavy stages onto a handful of tasks; a user repartition is
    # exempt). Join-then-repartition (ADVICE r12) makes the clustering
    # guarantee independent of the join strategy: while labels broadcast
    # (small side) nothing changes, and past the broadcast threshold the
    # vec_id shuffle the join needs lands BEFORE the block exchange
    # instead of silently destroying it. An inner join on vec_id keeps
    # every bucket row (labels come from the same relation), so the cap
    # window counts the identical per-block membership.
    #
    # self-norms hoisted to per-VECTOR columns: the interpreted ltr fold
    # is the kernel's hot expression and aa/bb depend on one side only —
    # evaluating them before the self-join is N folds instead of 2 folds
    # per candidate pair (identical values: same fold over the same
    # array, just computed once)
    joined = bucketed.join(labels, "vec_id").repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism,
        F.col("block"),
    )
    bc = F.count(F.lit(1)).over(Window.partitionBy("block"))
    sides = (
        joined.withColumn("_bc", bc)
        .filter(F.col("_bc") <= max_block_size)
        # norms AFTER the cap: a dropped hot block never pays the fold
        .select(
            "block",
            "vec_id",
            "label",
            v.alias("v"),
            dot_product(v, v).alias("nrm"),
        )
    )
    a, b = sides.alias("a"), sides.alias("b")
    aa = F.col("a.nrm")
    bb = F.col("b.nrm")
    ab = dot_product(F.col("a.v"), F.col("b.v"))
    score = F.round(
        F.when((aa == 0) | (bb == 0), F.lit(0.0)).otherwise(
            ab / (F.sqrt(aa) * F.sqrt(bb))
        ),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("other_id"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            score.alias("score"),
        )
        .distinct()  # the same pair surfaces from multiple tables
    )


def contrastive_triplets(
    embeddings: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    label_col: str = "label",
    max_block_size: int = 1000,
) -> DataFrame:
    """Contrastive training triplets (anchor, positive, hard negative):
    per anchor, the most-similar SAME-label candidate and the
    most-similar DIFFERENT-label candidate, both drawn from ONE pass of
    the capped SRP-LSH candidate kernel — no O(n^2) similarity join for
    either side. Anchors lacking either side are dropped (a triplet loss
    needs both). ``margin`` = pos_score - neg_score: small or negative
    margins are exactly the informative examples batch construction
    wants first.

    Scale: identical shape to hard-negative mining — blocked, capped,
    two bounded windows over the candidate set, one anchor-keyed join.
    """
    from pyspark.sql import Window

    cand = _srp_scored_candidates(
        embeddings, n_tables, n_planes, id_col, label_col, max_block_size
    )
    cand = _managed_cache("contrastive_cands", cand)
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), F.asc("other_id")
    )
    pos = (
        cand.filter(F.col("same_label"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("pos_id"),
            F.col("score").alias("pos_score"),
        )
    )
    neg = (
        cand.filter(~F.col("same_label"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
        )
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            (F.round(F.col("pos_score") - F.col("neg_score"), 6) + F.lit(0.0))
            .alias("margin"),
        )
        .orderBy("anchor_id")
    )


def bitext_margin_mine(
    embeddings: DataFrame,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    k: int = 4,
    min_margin: float = 1.0,
    max_block_size: int = 1000,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER recipe): score each candidate (src, tgt) pair by its
    cosine RELATIVE to both endpoints' neighborhoods —
    ``margin = cos(x, y) / ((deg(x) + deg(y)) / 2)`` where ``deg`` is the
    mean cosine of the endpoint's k nearest candidates — and keep each
    source's best target when the margin clears ``min_margin``. Absolute
    cosine thresholds mine hubs (vectors close to everything); the
    ratio margin cancels hubness, which is why it wins at corpus scale.

    Here the two "languages" are the deterministic even/odd ``vec_id``
    halves of the embedding table (the fixture has no parallel corpora);
    swapping in a real src/tgt pair of tables is the same plan with the
    parity filter replaced by the table tag.

    Candidates come from ONE pass of the capped SRP-LSH kernel
    (``_srp_scored_candidates`` — md5-Rademacher planes, oracle-portable,
    hot buckets capped with zero extra shuffles), so no stage touches the
    |src| x |tgt| pair space. Neighborhood means are computed over the
    forward and backward top-k of the SAME candidate set: two bounded
    row_number windows + two k-bounded aggregates, all keyed on the ids
    the candidate rows already carry. ``deg`` sums fold 6dp-rounded
    scores through DECIMAL(18,6) so accumulation order cannot move the
    mean; the final margin divides identical doubles on both engines.

    At 100 TB: the SRP stage is a narrow matmul per Arrow batch, the
    block self-join shuffles only capped buckets, and every later stage
    is keyed on src/tgt ids — the classic mine-then-filter shape CCMatrix
    runs at billions of sentences."""
    from pyspark.sql import Window

    cand = _srp_scored_candidates(
        embeddings.withColumn("_lbl", F.lit(0)),
        n_tables,
        n_planes,
        id_col,
        "_lbl",
        max_block_size,
    )
    scored = _managed_cache(
        "bitext_cands",
        cand.filter(
            (F.col("anchor_id") % 2 == 0) & (F.col("other_id") % 2 == 1)
        ).select(
            F.col("anchor_id").alias("src_id"),
            F.col("other_id").alias("tgt_id"),
            "score",
        ),
    )
    wf = Window.partitionBy("src_id").orderBy(F.desc("score"), F.asc("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("score"), F.asc("src_id"))
    fwdk = (
        scored.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    bwdk = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    deg = lambda df, key, out: df.groupBy(key).agg(  # noqa: E731
        (
            F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias(out)
    )
    degx = deg(fwdk, "src_id", "deg_x")
    degy = deg(bwdk, "tgt_id", "deg_y")
    margins = (
        fwdk.join(degx, "src_id")
        .join(degy, "tgt_id")
        .withColumn(
            "margin",
            # non-positive neighborhood mean => no meaningful ratio: a
            # negative denominator would SIGN-FLIP the ordering and rank
            # the most anti-similar target first
            F.round(
                F.when(
                    F.col("deg_x") + F.col("deg_y") <= 0, F.lit(0.0)
                ).otherwise(
                    F.col("score")
                    / ((F.col("deg_x") + F.col("deg_y")) / F.lit(2.0))
                ),
                6,
            ),
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.asc("tgt_id")
    )
    return (
        margins.withColumn("brn", F.row_number().over(wbest))
        .filter((F.col("brn") == 1) & (F.col("margin") >= min_margin))
        .select("src_id", "tgt_id", "score", "margin")
        .orderBy("src_id")
    )


_SMALL_GRAPH_EDGES = 200_000

# Below this OBSERVED edge count every per-round frame of an iterative
# graph loop is MB-sized, so AQE's per-stage materialization jobs and a
# wide shuffle-partition count are pure fixed overhead multiplied by the
# round count. The threshold is data-derived (observed on the loop's own
# checkpoint job), never host-derived — past it nothing changes: AQE
# stays on, partitioning stays adaptive, skew handling intact.
_SMALL_LOOP_EDGES = 2_000_000


def _small_loop_confs(spark, n_edges: int):
    """``parallel.conf_scope`` for an iterative loop: below
    ``_SMALL_LOOP_EDGES`` observed edges, AQE off and an edge-count-derived
    shuffle partition count (~100K edges/partition, capped at the
    cluster's parallelism); past it, an empty scope. The loop owns the
    session only for its own rounds (bench/oracle sweeps run entries
    sequentially)."""
    from vectolite_spark.parallel import conf_scope

    if n_edges > _SMALL_LOOP_EDGES:
        return conf_scope(spark, {})
    p = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    return conf_scope(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(p),
        },
    )


def _union_find_labels(spark, pairs):
    """Driver-side union-find over a collected pair list: always attach
    the larger root under the smaller, so every root IS its component's
    minimum id — the exact fixpoint the distributed loop computes.
    Path-compressed; O(alpha(n)) per edge."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return local_df(
        spark,
        sorted((n, find(n)) for n in nodes),
        "doc_id long, cluster_id long",
    )


def _round(und: DataFrame, labels: DataFrame) -> DataFrame:
    """One round over the symmetric edge list and the checkpointed label
    frame ``L``. Each endpoint's label first jumps once through itself,
    ``J(v) = min(L(v), L(L(v)))`` (pointer jumping). Then each edge
    (a, b) offers ``J(b)`` to ``a`` (min-label) and to ``J(a)``
    (hooking: a's whole tree moves under the smaller label at once), and
    ``a`` keeps its own ``J(a)`` (every node has an edge). One
    aggregation takes the minimum offer per node. Every join reads the
    checkpointed frame, which is already partitioned by node."""

    hop = labels.select(F.col("node").alias("_via"), F.col("label").alias("_hop"))

    def jumped(e: DataFrame, v: str) -> DataFrame:
        lv = f"l{v}"
        return (
            e.join(labels.select(F.col("node").alias(v), F.col("label").alias(lv)), v)
            .join(hop, F.col(lv) == F.col("_via"))
            .withColumn(lv, F.least(lv, "_hop"))
            .drop("_via", "_hop")
        )

    offers = jumped(jumped(und, "b"), "a")
    return (
        offers.select(
            F.inline(
                F.array(
                    F.struct(F.col("a").alias("node"), F.col("la").alias("label")),
                    F.struct(F.col("a").alias("node"), F.col("lb").alias("label")),
                    F.struct(F.col("la").alias("node"), F.col("lb").alias("label")),
                )
            )
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    small_graph_limit: int = _SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Transitive closure of near-dup pairs into dedup CLUSTERS — the step
    every pairwise detector needs before a keep-list exists (A~B and B~C
    must collapse to ONE representative even when A~C was never emitted).

    Min-label propagation with hooking and pointer jumping: every node
    starts labeled with its minimum neighbor (or itself). Each round
    jumps every edge endpoint's label once through itself
    (``J(v) = min(L(v), L(L(v)))``), then one aggregation takes, per
    node, the minimum of its own label, its neighbors' labels, and —
    hooking — the neighbors' labels of every node it labels, so a whole
    tree moves under a smaller label at once (``_round``). Fixpoint =
    components labeled by their minimum member id. Plain min-label needs
    one round per unit of diameter (a 1,000-node chain: 1,000 rounds);
    this loop closes it in about log d rounds, in any id order, so the
    same loop serves shallow near-dup stars/cliques and adversarial long
    chains (paginated template text). At sf0.1 (simhash radius-1 pairs,
    3,392 edges) it takes 6 rounds where min-label took 17.
    ``localCheckpoint`` truncates lineage each round so plans stay O(1)
    deep.

    Deterministic: the fixpoint (min reachable id) is partition-order
    independent, so the DuckDB oracle reproduces it with a recursive
    reachability CTE. Returns (node, cluster_id) for every node that
    appears in ``edges``, a self-loop-only node included (its own
    cluster).

    Hybrid execution: candidate pair sets are blocked AND capped upstream,
    so after near-dup detection the edge list is usually tiny relative to
    the corpus. When the (deduplicated, undirected) edge count — observed
    for free on the materializing checkpoint job — is at most
    ``small_graph_limit``, the closure runs as driver-side union-find
    (microseconds, identical min-label fixpoint) instead of paying
    per-round shuffle + checkpoint jobs. The distributed loop remains the
    path for edge lists that don't fit a driver working set; pass
    ``small_graph_limit=0`` to force it (tests do). A loop that has not
    converged after ``max_iter`` rounds raises instead of returning
    labels that would split clusters.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    obs0 = Observation()
    und = (
        und.distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs0.get["n"])
    if n_edges <= small_graph_limit:
        pairs = [(r["a"], r["b"]) for r in und.collect()]
        return _union_find_labels(edges.sparkSession, pairs)
    spark = edges.sparkSession
    # Execution shape derived from the OBSERVED edge count, not the
    # host — see _small_loop_confs.
    with _small_loop_confs(spark, n_edges):
        # Round 1 is min(own, min neighbor): one groupBy over the
        # symmetric edge list, no join needed.
        step = und.groupBy(F.col("a").alias("node")).agg(
            F.least(F.first("a"), F.min("b")).alias("label")
        )
        converged = False
        prev_sum = None
        for _ in range(max_iter):
            # Convergence detection rides the checkpoint job for FREE:
            # labels never increase (every step takes a min), so the
            # label SUM strictly decreases until the fixpoint — an
            # Observation on the materializing plan captures it with zero
            # extra jobs. decimal(38,0): a BIGINT sum overflows around 1e9
            # nodes with wide id spaces; the fixpoint test needs exactness.
            obs = Observation()
            labels = step.observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).localCheckpoint(eager=True)
            cur_sum = obs.get["s"]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
            step = _round(und, labels)
    if not converged:
        # Returning unconverged labels would silently split clusters (a
        # chain's tail keeps a label that is not its component minimum).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``n``-gram with a held-out eval set (the pre-training hygiene step
    — GPT-3 App. C / PaLM-style n-gram overlap, n=8 by convention: long
    enough that boilerplate 3-grams don't fire, short enough to catch
    paraphrase-free leakage). Returns one row per CONTAMINATED training
    doc: (doc_id, n_shared_grams, n_eval_docs).

    Plan shape for 100 TB of train vs ~1e5 eval examples: the eval side's
    distinct grams are a small relation — broadcast it and stream the
    train corpus through one Arrow shingle pass + hash semi-match; no
    shuffle of training text, no train-side self-join. (If the eval side
    ever outgrows a broadcast, the same query degrades gracefully to a
    sort-merge on the gram.) Counts are exact integers — no rounding
    hazard in the oracle compare."""
    from vectolite_spark._pandas_udfs import make_shingle_udf

    sh = make_shingle_udf(n)
    tr = widen_small_input(train).select(
        F.col(id_col),
        F.explode(F.array_distinct(sh(F.col(text_col)))).alias("g"),
    )
    ev = evalset.select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(sh(F.col(text_col)))).alias("g"),
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy(id_col)
        .agg(
            F.countDistinct("g").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def duplicate_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact duplicate-span coverage (the exact-substring-dedup signal from
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2021): the fraction of each document's tokens that sit inside an
    ``n``-token gram that also appears verbatim in at least one OTHER
    document.  High coverage = boilerplate / mirrored content; a curation
    pass drops or trims those spans.

    Plan shape (scales to 100 TB):
      1. per-row gram generation — narrow, no shuffle; grams are hashed to
         md5 IMMEDIATELY so every downstream shuffle moves 32-char keys,
         never text;
      2. groupBy gram hash -> docs-per-gram (one shuffle, map-side partial
         count via count_distinct's partial aggregation);
      3. hash-join grams back to the duplicated-gram set (shuffle join on
         the same key — AQE will pick broadcast when the dup set is small);
      4. per-(doc, position) distinct + per-doc count (one shuffle keyed on
         doc_id, which is also where the final join lands).
    Docs shorter than ``n`` tokens have no grams and coverage 0.0.
    """
    toks = norm_tokens(text_col)
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens"), toks.alias("toks")
    )
    # sequence(0, size-n) is only valid when size >= n: Spark's sequence()
    # DESCENDS (step -1) when start > stop, which would fabricate grams for
    # short docs — hence the explicit guard to an empty array.
    gram_hashes = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("pos", "gram_h")
    )
    dup = (
        grams.groupBy("gram_h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram_h")
    )
    covered = (
        grams.join(dup, "gram_h")
        .select(F.col(id_col), F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("p"))
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long")
    return base.select(id_col, "n_tokens").join(covered, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        cov.alias("covered_tokens"),
        F.round(cov / F.col("n_tokens"), 6).alias("dup_coverage"),
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_distance: int = 2,
    max_block_size: int = 1000,
) -> DataFrame:
    """Entity-resolution fuzzy pairs: candidate pairs whose names are within
    ``max_distance`` Levenshtein edits, blocked on the first token of the
    name so the self-join is per-block instead of all-pairs (the standard
    blocking trick — O(sum block^2), not O(N^2)).

    Blocks larger than ``max_block_size`` are dropped via the same
    count-filter semi-join guard the LSH operators use, so one degenerate
    hot block (every row named "item ...") cannot go quadratic on an
    executor.  Levenshtein runs JVM-side (built-in, codegen'd) only on
    within-block candidates, and with the ``threshold`` argument so the
    DP early-exits at O(len * max_distance) per pair instead of
    O(len^2) — at 1000-row blocks that bound is the difference between
    seconds and minutes per block.  A length-difference pre-filter
    (|len_a - len_b| > max_distance implies distance > max_distance)
    discards impossible pairs before the DP ever runs.
    """
    b = df.select(
        F.col(key_col).alias("k"),
        F.col(name_col).alias("nm"),
        F.split(F.trim(F.lower(F.col(name_col))), r"\s+").getItem(0).alias("blk"),
    )
    # block cap via a window on blk — one shuffle, feeding the self-join
    # on the same key (no groupBy+inner-join round trip). The exchange is
    # an EXPLICIT block-keyed repartition at the cluster's parallelism:
    # the blocked rows are byte-tiny, so AQE's byte-based coalesce folded
    # the exchange to ONE post-shuffle partition and the whole
    # O(block^2) levenshtein self-join ran on a single task (profiled
    # 2.2-2.3 s single-task CPU at sf0.1 — the jaccard_prefix_join
    # pathology, same fix). An explicit repartition is exempt from AQE
    # coalescing and already satisfies the window's and the self-join's
    # clustering, so no further exchange is added.
    from pyspark.sql import Window

    b = b.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("blk")
    )
    bc = F.count(F.lit(1)).over(Window.partitionBy("blk"))
    b = b.withColumn("_bc", bc).filter(F.col("_bc") <= max_block_size).drop("_bc")
    left = b.select(F.col("blk"), F.col("k").alias("key_a"), F.col("nm").alias("name_a"))
    right = b.select(F.col("blk"), F.col("k").alias("key_b"), F.col("nm").alias("name_b"))
    return (
        left.join(right, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(max_distance)
        )
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b", max_distance).cast("long"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_distance))
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


def incremental_new_unique(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cutoff_frac: float = 0.8,
) -> DataFrame:
    """Incremental-ingest dedup: treat the top ``1 - cutoff_frac`` id range
    as the newly arrived batch and return only the new rows whose text does
    not already exist in the established corpus (ids below the cutoff).
    This is the shape every continuously-fed training pipeline needs — new
    crawl snapshots dedup against everything already ingested, not just
    against themselves.

    Scale plan: the anti-join carries sha2-256 hashes (32 bytes), never
    text; the old side reduces to DISTINCT hashes before joining, so the
    shuffle moves one row per distinct old document. The cutoff is a
    1-row aggregate broadcast into both filters. At 100 TB the "old
    hashes" relation is the persisted signature store; here it derives
    in-plan from the same table.
    """
    h = F.sha2(F.col(text_col), 256)
    cut = df.agg(
        F.floor(F.lit(cutoff_frac) * (F.max(id_col) + 1)).cast("long").alias("cutoff")
    )
    hashed = df.select(F.col(id_col), h.alias("_h")).crossJoin(F.broadcast(cut))
    old_hashes = hashed.filter(F.col(id_col) < F.col("cutoff")).select("_h").distinct()
    new = hashed.filter(F.col(id_col) >= F.col("cutoff"))
    return (
        new.join(old_hashes, "_h", "left_anti")
        .select(F.col(id_col))
        .join(df, id_col)
        .select(id_col, "source", "n_chars")
    )


def _cdc_chunk_rows(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """(id, chunk_hash, _len) rows from content-defined chunking: cut at
    positions whose ``window``-char context md5 starts '00' (~1/256),
    slice between cuts, hash. Arrow-batched (guide §4.2): the Catalyst
    array-expression form (the tests' parity reference) evaluates one md5 + substr per CHARACTER
    through interpreted higher-order functions — measured 17.5 s CPU
    per warm sf0.1 corpus pass vs ~1 s for hashlib in a tight loop.
    Chunk text still never shuffles: only (id, md5, len) leaves the
    stage."""
    from vectolite_spark._pandas_udfs import make_cdc_chunk_udf

    return (
        widen_small_input(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.inline(make_cdc_chunk_udf(window)(F.col(text_col))),
        )
        .select(
            F.col(id_col),
            F.col("h").alias("chunk_hash"),
            F.col("l").cast("int").alias("_len"),
        )
    )


def cdc_chunk_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_docs: int = 2,
    top_n: int = 100,
) -> DataFrame:
    """Content-defined-chunking (CDC) duplicate detection: the storage /
    training-data primitive that finds REPEATED SPANS across documents
    even when whole-document hashes and shingle sketches disagree.

    Each document is cut at content-defined boundaries — positions whose
    ``window``-char context hashes into a fixed bucket (md5 prefix
    ``00``, ~1/256 of positions) — so identical passages produce
    identical chunks regardless of where they sit in a document (the
    property fixed-size chunking lacks: one inserted character shifts
    every later fixed-size chunk, but CDC boundaries re-synchronize).
    Chunks are hashed and grouped; a chunk seen in >= ``min_docs``
    distinct documents is a shared span (boilerplate, license header,
    template, quotation).

    Scale plan: boundary detection + chunk slicing are array expressions
    in whole-stage codegen (no Python, no explode until chunks exist);
    the ONE shuffle carries (md5, len, doc_id) — never chunk text. The
    final top-N is TakeOrderedAndProject under a strict total order
    (n_docs desc, occurrences desc, hash asc). At 100 TB the per-window
    md5 would swap for a Gear/Buzhash rolling fingerprint in an
    Arrow-batched UDF (8x less hashing work); the plan shape — narrow
    chunking, hash-only shuffle — is unchanged.
    """
    per_chunk = _cdc_chunk_rows(df, text_col, id_col, window)
    return (
        per_chunk.groupBy("chunk_hash")
        .agg(
            F.min("_len").cast("long").alias("chunk_len"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_hash", "chunk_len", "n_docs", "n_occurrences")
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("chunk_hash")
        )
        .limit(top_n)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.95,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin-family technique): every pair with token-set Jaccard >=
    ``threshold``, with no approximation and no missed pairs — the exact
    counterpart to the MinHash/SimHash estimators, used when the dedup
    decision must be exhaustive (e.g. legal/compliance removal).

    Why it scales: a pair at Jaccard >= t MUST share a token inside each
    side's PREFIX — the |S| - ceil(t*|S|) + 1 rarest tokens when the
    vocabulary is ordered by ascending document frequency. So candidate
    generation joins only on RARE tokens (bounded bucket sizes by
    construction — the frequent tokens that would create hot join keys
    are exactly the ones the prefix excludes), a length filter prunes
    size-incompatible pairs before the verify, and the exact Jaccard is
    computed only for surviving candidates. High thresholds shrink the
    prefix (at t=0.95 a 40-token doc exposes 3 tokens); the pruning
    power is data-dependent — templated corpora with heavily shared
    vocabularies (like this fixture) keep more candidates than natural
    text would.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded 6dp.
    """
    from pyspark.sql import Window

    tok = (
        widen_small_input(df)
        .select(F.col(id_col), F.explode(norm_tokens(text_col)).alias("t"))
        .distinct()
    )
    tok = _managed_cache("ppjoin_tok", tok)
    sz = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    dfr = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # dense integer token ids in the SAME global (df asc, token asc)
    # ordering the prefix uses: verify then intersects small int arrays
    # instead of string arrays, and position becomes a simple tid rank.
    # The single-partition ranking window is over the (small) distinct
    # VOCABULARY, not the corpus — at 100 TB this is the term dictionary,
    # bounded by language, not data size.
    tid = dfr.withColumn(
        "tid",
        F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy(F.asc("df"), F.asc("t"))
        ),
    ).select("t", "tid")
    toki = _managed_cache("ppjoin_toki", tok.join(tid, "t").select(id_col, "tid"))
    ranked = toki.join(sz, id_col).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy(id_col).orderBy(F.asc("tid"))),
    )
    min_sz = F.ceil(F.lit(threshold) * F.col("n")).cast("int")
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - min_sz + 1
    ).select(id_col, "tid", "n", "pos")
    a = prefix.select(
        F.col(id_col).alias("doc_a"),
        "tid",
        F.col("n").alias("na"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"),
        "tid",
        F.col("n").alias("nb"),
        F.col("pos").alias("pb"),
    )
    # PPJoin positional filter: a qualifying pair's FIRST shared token
    # satisfies overlap <= 1 + min(remaining_a, remaining_b), so pruning
    # candidate rows against the required overlap ceil(t/(1+t)*(na+nb))
    # never loses a true pair (ANY surviving row re-candidates the pair).
    #
    # MEASURED AND REJECTED (r13, VERDICT r12 item 5): the full
    # accumulated positional bound — min_i [i + min(na-pa_i, nb-pb_i)]
    # >= alpha over the pair's tid-ordered shared prefix tokens, the
    # PPJoin paper's pair-level filter, of which this per-row form is
    # the i=1 case — prunes ZERO additional candidates on this corpus
    # (1,807,310 pairs under both filters at sf0.1; the templated
    # fixture's candidates are true near-dups whose later bounds never
    # bind) while its collect_list/indexed-transform aggregation
    # doubled the stage (interleaved A/B ×3: 3.50 -> 4.51 s median,
    # disjoint ranges). A cheaper first+last-row variant (min/max
    # aggregates) also pruned zero. The i=1 row filter + distinct is
    # the measured optimum here; revisit only if the corpus profile
    # changes (longer docs with sparse prefixes would make later
    # bounds bind).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
    )
    # Explicit pair-keyed repartition before dedup + verify: the
    # candidate relation is BYTE-tiny (two longs per row) but each
    # surviving pair costs a full sorted-set intersection downstream,
    # so AQE's byte-based coalescing collapses the exchange to ONE
    # partition and serializes the whole verify on a single task
    # (measured 7 s of single-task CPU at sf0.1 — the §2.5 straggler
    # shape with CPU, not bytes, as the skewed resource). A
    # user-specified partition count is exempt from AQE coalescing;
    # hash(doc_a, doc_b) already satisfies the distinct's clustering
    # (no second exchange) and the verify joins stay narrow while AQE
    # broadcasts the small set side.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        a.join(b, "tid")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")).cast("int"))
            & (F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb")).cast("int"))
            & (
                F.lit(1)
                + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .repartition(n_par, "doc_a", "doc_b")
        .distinct()
    )
    # doc -> sorted int-id set: one small row per doc. Deliberately NOT
    # force-broadcast: AQE upgrades these joins to broadcast while the
    # relation is small (it is, locally) and keeps the scale-correct
    # shuffle join when a 100 TB corpus makes per-doc rows too big to ship
    sets = toki.groupBy(id_col).agg(
        F.sort_array(F.collect_list("tid")).alias("ts")
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("ts").alias("ts_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dup_graph_pagerank(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iterations: int = 3,
    damping: float = 0.85,
    top_n: int = 20,
) -> DataFrame:
    """PageRank over the MinHash-LSH near-duplicate graph — the NUMERIC
    iterative graph computation next to connected-components'
    combinatorial fixpoint. Rank concentrates on documents whose
    near-dup neighborhoods are large and interlinked (template hubs):
    the removal-priority signal when a curation budget can't delete
    every duplicate.

    Fixed-iteration power method, engine-deterministic by construction:
    each neighbor contribution ``r/deg`` is an IEEE-identical double
    division, quantized to DECIMAL(28,14) BEFORE the sum (so
    accumulation order cannot change the iterate), and the affine update
    is the same double arithmetic in Spark and the SQL oracle. Dangling
    (isolated) documents keep the (1-d)/N floor and their mass is not
    redistributed — a documented variant choice mirrored exactly in the
    oracle.

    Scale: the edge list is built once (cached; the same capped LSH
    relation every dup-graph operator uses) and each iteration is one
    join + one map-side-combined shuffle of (node, decimal) rows; the
    rank relation carries (id, double). O(iterations) bounded rounds,
    lineage pinned by the cached edges.
    """
    spark = df.sparkSession
    pairs = minhash_lsh_pairs(df, text_col, id_col)
    edges = _managed_cache(
        "pagerank_edges",
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ),
    )
    # deg and the node list appear in every iteration's subtree: cache
    # them once or each fixed-point step recomputes them from scratch
    deg = _managed_cache(
        "pagerank_deg", edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    )
    nodes = _managed_cache(
        "pagerank_nodes", df.select(F.col(id_col).alias("doc_id"))
    )
    n = nodes.count()
    # The whole power iteration executes INSIDE the small-loop conf
    # window (the rank relation is O(nodes) and every edge frame is the
    # capped LSH pair set — node count is the scale signal): the top_n
    # result is collected here so the execution happens under the confs,
    # and the k-row local frame is what the caller gets. Past the
    # threshold nothing changes and the confs are a no-op.
    with _small_loop_confs(spark, n):
        rank = nodes.select("doc_id", F.lit(1.0 / n).alias("r"))
        for it in range(iterations):
            contrib = (
                edges.join(rank.withColumnRenamed("doc_id", "src"), "src")
                .join(deg, "src")
                .select(
                    F.col("dst").alias("doc_id"),
                    (F.col("r") / F.col("deg")).cast("decimal(28,14)").alias("c"),
                )
                .groupBy("doc_id")
                .agg(F.sum("c").alias("s"))
            )
            rank = nodes.join(contrib, "doc_id", "left").select(
                "doc_id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("r"),
            )
            # NOTE: no per-step localCheckpoint at shallow depth — measured
            # slower here (each eager materialization re-runs the edge join
            # pipeline; re-executing lineage over the CACHED edges/deg/nodes
            # is cheaper at 3 iterations). But lineage doubles per step, so
            # past a few rounds planning time and stack depth blow up —
            # truncate every 3rd iteration (the CC loop's pattern) so
            # iterations=10+ stays O(1) plan size while the default
            # iterations=3 path never checkpoints and keeps its measured win.
            if it % 3 == 2 and it != iterations - 1:
                rank = rank.localCheckpoint(eager=True)
        top = (
            rank.orderBy(F.desc("r"), F.asc("doc_id"))
            .limit(top_n)
            .select(
                "doc_id", F.round(F.col("r") * 1000, 6).alias("rank_millis")
            )
            .collect()
        )
    return local_df(spark, top, "doc_id long, rank_millis double")


def cdc_span_decontamination(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cutoff_frac: float = 0.8,
    window: int = 8,
) -> DataFrame:
    """SPAN-level decontamination via content-defined chunks: for each
    doc in the newest id range (the held-out / eval side), how much of
    it is stitched from chunks already present in the established corpus
    — contamination that n-gram matching misses once an edit shifts the
    grams, because CDC boundaries re-synchronize around the edit.

    Returns (doc_id, n_chunks, n_contaminated, contaminated_frac) for
    every doc above the cutoff. Scale: the old side reduces to DISTINCT
    chunk hashes before the join, so the shuffle moves one 32-byte hash
    per distinct corpus span; the eval side is typically tiny. The same
    shape serves benchmark-contamination audits against a persisted
    chunk-hash store.
    """
    cut = df.agg(
        F.floor(F.lit(cutoff_frac) * (F.max(id_col) + 1)).cast("long").alias("cutoff")
    )
    rows = _cdc_chunk_rows(df, text_col, id_col, window).crossJoin(
        F.broadcast(cut)
    )
    old = (
        rows.filter(F.col(id_col) < F.col("cutoff"))
        .select("chunk_hash")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    new = rows.filter(F.col(id_col) >= F.col("cutoff"))
    return (
        new.join(old, "chunk_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_seen"), F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contaminated_frac",
            F.round(F.col("n_contaminated") / F.col("n_chunks"), 6),
        )
    )


def build_cdc_chunk_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    n_buckets: int = 32,
) -> str:
    """Persist the corpus's DISTINCT CDC chunk hashes as a bucketed
    parquet index: build once, probe every future snapshot against it
    without ever re-chunking the established corpus (the same
    build-once/probe-many economics the BM25/IVF indexes give retrieval,
    applied to decontamination). Rows carry only (bucket, chunk_hash) —
    32 bytes per distinct corpus span; the bucket column (hash prefix)
    partitions the layout so probes co-partition cheaply and incremental
    appends touch only their buckets."""
    hashes = (
        _cdc_chunk_rows(df, text_col, id_col, window)
        .select("chunk_hash")
        .distinct()
        .withColumn(
            "bucket",
            F.conv(F.substring("chunk_hash", 1, 4), 16, 10).cast("int")
            % n_buckets,
        )
    )
    hashes.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return path


def probe_cdc_chunk_index(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Decontaminate a NEW snapshot against a prebuilt chunk-hash index:
    chunk only the new docs (the corpus is never touched), left-join
    their chunk hashes to the index, and report per-doc contamination.
    Output schema matches ``cdc_span_decontamination``."""
    spark = new_docs.sparkSession
    idx = (
        spark.read.parquet(index_path)
        .select("chunk_hash")
        .withColumn("_seen", F.lit(1))
    )
    rows = _cdc_chunk_rows(new_docs, text_col, id_col, window)
    return (
        rows.join(idx, "chunk_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("_seen"), F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contaminated_frac",
            F.round(F.col("n_contaminated") / F.col("n_chunks"), 6),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    train_threshold: int = 204,
) -> DataFrame:
    """Dedup-aware train/validation split: assign EVERY member of a
    near-dup cluster to the same split, so a validation doc can never have
    a near-copy in the training set (the eval-leakage failure mode plain
    random splits have on undeduplicated corpora).

    Clusters come from the simhash hamming<=1 pairs closed under
    ``connected_components``; singleton docs are their own cluster. The
    split decision hashes the CLUSTER id (md5 leading byte <
    ``train_threshold``/256 -> train, default ~80/20), so membership is
    deterministic, engine-portable, and independent of row order — and
    adding docs later can never flip an existing cluster's split.

    Scale: the pair/closure cost is the dedup pipeline's (blocked, capped,
    O(log d) rounds); the split itself is one broadcast-size hash
    expression and a left join of labels onto the corpus keyed by id.
    Returns (doc_id, source, cluster_id, split).
    """
    pairs = simhash_near_pairs(df, text_col=text_col, id_col=id_col, radius=1)
    labels = connected_components(pairs)
    out = (
        df.select(id_col, source_col)
        .join(labels.withColumnRenamed("doc_id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )
    first_byte = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return out.withColumn(
        "split",
        F.when(first_byte < train_threshold, F.lit("train")).otherwise(
            F.lit("val")
        ),
    ).orderBy(id_col)


def cdc_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Containment detection (quote / excerpt / subset-document pairs):
    doc pairs where the smaller doc's CDC chunk set is mostly inside the
    other's — containment = |chunks(A) ∩ chunks(B)| / min(|A|, |B|).
    Near-dup detectors score these LOW (Jaccard divides by the union, so
    a 10x-longer superset doc drowns the quote); containment is the
    right lens for "B embeds A".

    Chunks shared by more than ``max_doc_freq`` docs are excluded from
    pairing (license headers / boilerplate are not containment evidence,
    and a ubiquitous chunk would otherwise fan the self-join out
    quadratically — same hot-block discipline as every pair generator
    here); the denominator stays the FULL chunk-set size. The one heavy
    shuffle is the hash-equality self-join over doc-frequency-bounded
    blocks; only (hash, id) rows move.

    Returns (inner_doc, outer_doc, shared_chunks, inner_chunks,
    containment >= threshold), inner = the doc with fewer distinct
    chunks (ties: lower id).
    """
    sets = (
        _cdc_chunk_rows(df, text_col, id_col, window)
        .select(F.col(id_col).alias("doc"), "chunk_hash")
        .distinct()
    )
    sets = _managed_cache("cdc_containment_sets", sets)
    sizes = sets.groupBy("doc").agg(F.count(F.lit(1)).alias("nc"))
    from pyspark.sql import Window as W

    dfq = F.count(F.lit(1)).over(W.partitionBy("chunk_hash"))
    rare = sets.withColumn("_df", dfq).filter(
        F.col("_df") <= max_doc_freq
    ).drop("_df")
    a = rare.select(F.col("doc").alias("da"), "chunk_hash")
    b = rare.select(F.col("doc").alias("db"), "chunk_hash")
    pairs = (
        a.join(b, "chunk_hash")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc").alias("da"), F.col("nc").alias("na"))
    sb = sizes.select(F.col("doc").alias("db"), F.col("nc").alias("nb"))
    scored = (
        pairs.join(sa, "da")
        .join(sb, "db")
        .select(
            F.when(F.col("na") <= F.col("nb"), F.col("da"))
            .otherwise(F.col("db"))
            .cast("long")
            .alias("inner_doc"),
            F.when(F.col("na") <= F.col("nb"), F.col("db"))
            .otherwise(F.col("da"))
            .cast("long")
            .alias("outer_doc"),
            F.col("shared").cast("long").alias("shared_chunks"),
            F.least("na", "nb").cast("long").alias("inner_chunks"),
            F.round(
                F.col("shared").cast("double")
                / F.least("na", "nb").cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return scored.orderBy(
        F.desc("containment"), F.asc("inner_doc"), F.asc("outer_doc")
    )
