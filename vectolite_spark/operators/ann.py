"""Approximate nearest-neighbor search (north-star extension).

The reference only does exact brute-force scan-everything search
(/root/reference/vectolite.py:145-171). For 100 TB of vectors the scale path
is an inverted-file (IVF) index: partition vectors into cells around
centroids, probe only the nearest cell(s) at query time — the scan shrinks
from N to N * n_probe / n_cells.

Spark-first shapes:
- centroid build: posexplode + groupBy(cluster, dim) with exact DECIMAL
  sums (order-independent -> deterministic, oracle-matchable), assembled
  back into arrays. One shuffle of N*d skinny rows.
- assignment: mapInPandas matmul against the broadcast centroid matrix
  (C is small) — narrow, no shuffle.
- query: score the query against C centroids on the driver, probe the best
  cell(s), brute-force only inside them (the probe predicate prunes the
  parquet scan when the table is partitioned/bucketed by cell id).

An MLlib alternative (BucketedRandomProjectionLSH over L2-normalized
vectors approximates cosine) plugs into the same surface; it is not
oracle-matchable (randomized planes), so IVF is the declared query.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectolite_spark.localframe import local_df
from vectolite_spark.operators.index_sync import (
    clear_index_ready,
    index_params,
    mark_index_ready,
)
from vectolite_spark.operators.topk import (
    SCORE_DECIMALS,
    require_unique_query_ids,
    topk_ids,
)
from vectolite_spark.session import phase


def lsh_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approximate top-k.

    Cosine via the L2-normalization trick: for unit vectors,
    ||a-b||^2 = 2 - 2*cos(a,b), so Euclidean-LSH neighbors of the
    normalized query are cosine neighbors of the raw query. Randomized
    hyperplanes (seeded) => approximate; test by recall-vs-exact, not
    value-hash (SURVEY.md §7 risk register).

    Returns (id, score) — score is the EXACT rounded cosine of the
    candidates LSH surfaced, ordered score desc, id asc.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.linalg import Vectors

    df = embeddings.select(
        F.col(id_col),
        "embedding",
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("vec"),
    )
    norm = Normalizer(inputCol="vec", outputCol="unit", p=2.0)
    unit_df = norm.transform(df)
    lsh = BucketedRandomProjectionLSH(
        inputCol="unit",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(unit_df)
    qn = math.sqrt(sum(float(x) ** 2 for x in qvec))
    qunit = Vectors.dense([float(x) / qn if qn else 0.0 for x in qvec])
    # over-fetch candidates, then rescore exactly and cut to k with the
    # engine-wide (rounded score desc, id asc) order
    cand = model.approxNearestNeighbors(unit_df, qunit, 4 * k).select(
        id_col, "embedding"
    )
    return topk_ids(cand, qvec, k, id_col=id_col)


def build_centroids(
    embeddings: DataFrame,
    cluster_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Per-cluster mean vector with exact DECIMAL accumulation.

    Returns (cluster, centroid: array<double>). Deterministic regardless of
    partial-aggregation order — safe for oracle comparison and for
    idempotent index rebuilds.
    """
    exploded = embeddings.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(emb_col).alias("pos", "x"),
    )
    dims = exploded.groupBy("cluster", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    return dims.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


_PARTIAL_SUM_SCHEMA = "cell long, pos int, psum string, cnt long"


def _centroids_from_partials(
    partials: DataFrame,
) -> list[tuple[int, list[float]]]:
    """Exact-decimal per-cell means from the fused partial-sum mappers
    (``make_seed_sum_mapper`` / ``make_assign_sum_mapper``): Spark sums
    the integer-scaled decimal partials exactly (decimal(38,0)), and the
    driver replays ``build_centroids``'s decimal->double->divide
    sequence — ``float(Fraction(total, 10^12))`` is the same
    correctly-rounded double BigDecimal.doubleValue yields, and the
    float/float division is the same IEEE op as Spark's Divide. The
    means are bit-for-bit ``build_centroids``'s (parity-pinned by
    test_ann_index); the shuffle carries C*d skinny rows instead of the
    old N*d posexplode stream (guide §2.3)."""
    from fractions import Fraction

    rows = (
        partials.groupBy("cell", "pos")
        .agg(
            F.sum(F.col("psum").cast("decimal(38,0)")).alias("s"),
            F.sum("cnt").alias("n"),
        )
        .collect()
    )
    byc: dict[int, dict[int, float]] = {}
    for r in rows:
        byc.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(
            Fraction(int(r["s"]), 10**12)
        ) / float(r["n"])
    return [
        (c, [dims[p] for p in range(len(dims))])
        for c, dims in sorted(byc.items())
    ]


def greedy_probes(
    cents: list[tuple[int, list[float]]], qvec: Sequence[float], n_probe: int
) -> list[int]:
    """The n_probe nearest cells to the query, in probe order (rounded
    cosine desc, cluster id asc) — driver-side over the centroid set,
    one matmul. Scores are ``_pandas_udfs.rounded_cosine``, HALF_UP like
    ``_assign_cells``, so a query probes first the cell its equal
    vector was assigned to."""
    import numpy as np

    from vectolite_spark._pandas_udfs import rounded_cosine, top_positions

    if not cents:
        return []
    cids = np.asarray([int(c) for c, _ in cents], dtype=np.int64)
    M = np.asarray([v for _, v in cents], dtype=np.float64)
    q = np.asarray([[float(x) for x in qvec]], dtype=np.float64)
    scores = rounded_cosine(M, q)[:, 0]
    return cids[top_positions(scores, cids, n_probe)].tolist()


def ivf_topk(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Self-contained IVF search: build centroids in-plan, probe, brute-force
    only inside the probed cell(s). Returns (id, score) ordered score desc,
    id asc.

    This form recomputes centroids per call (one N*d shuffle) — fine for a
    one-off, wrong amortization for a query workload. The scale path is
    ``build_ivf_index`` once + ``IVFIndex.topk`` per query, which scans only
    the probed parquet partitions."""
    cents = [
        (r["cluster"], list(r["centroid"]))
        for r in build_centroids(embeddings, cluster_col).collect()
    ]
    probes = greedy_probes(cents, qvec, n_probe)
    cell = embeddings.filter(F.col(cluster_col).isin(probes))
    return topk_ids(cell, qvec, k, id_col=id_col)


def assign_cells(
    embeddings: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, embedding, cell): nearest-centroid assignment for corpora with
    no precomputed cluster column — one matmul per Arrow batch against the
    closure-shipped centroid matrix. Narrow (no shuffle, no join); the
    write's ``partitionBy("cell")`` does the clustering on disk."""
    from vectolite_spark._pandas_udfs import make_cell_assign_mapper

    mapper = make_cell_assign_mapper(
        [c for c, _ in cents], [v for _, v in cents]
    )
    return embeddings.select(F.col(id_col).alias("vec_id"), "embedding").mapInPandas(
        mapper, schema="vec_id long, embedding array<float>, cell long"
    )


def _srp_seed_col(n_cells: int):
    """Geometry-aware k-means seed assignment: a pandas UDF mapping an
    embedding to the bucket of its sign pattern under
    ceil(log2(n_cells)) deterministic md5-Rademacher hyperplanes
    (``_pandas_udfs.srp_seed_cells`` — the SRP index's plane formula),
    mod n_cells. Deterministic, partitioning-independent, and SEPARATES
    clustered data from round zero — see the Lloyd comment in
    build_ivfpq_index."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def _seed(emb):
        import numpy as np
        import pandas as pd

        from vectolite_spark._pandas_udfs import srp_seed_cells

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack(emb.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(srp_seed_cells(mat, n_cells).astype("int32"))

    return _seed


def _topup_seed_centroids(
    seeded: DataFrame,
    cents_list: list[tuple[int, list[float]]],
    n_cells: int,
    seed_col: str = "_seed_cell",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Fill empty seed cells before the Lloyd rounds (ADVICE r9):
    ``_srp_seed_col`` maps ceil(log2(n_cells)) sign-pattern buckets mod
    n_cells, so a skewed sign distribution (or non-power-of-two
    n_cells) can leave cells empty — the build would then silently
    produce fewer centroids than requested, degrading partial-probe
    recall granularity. The top-up splits the LARGEST seed groups: for
    each missing cell id, the member FARTHEST (L2) from its own group's
    seed mean becomes a new seed centroid, chosen round-robin over
    groups by (split-rank asc, group size desc, cell asc) with vec_id
    tie-breaks — deterministic and partitioning-independent, so
    rebuilds still converge identically. One extra skinny job, paid
    only on the degenerate path (deficit == 0 returns immediately).
    If the corpus has fewer rows than n_cells the realized count stays
    short — there is nothing left to split."""
    import math

    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    deficit = n_cells - len(cents_list)
    if deficit <= 0:
        return cents_list
    have = {c for c, _ in cents_list}
    missing = sorted(c for c in range(n_cells) if c not in have)[:deficit]
    cmap = {int(c): [float(x) for x in v] for c, v in cents_list}

    @pandas_udf("double")
    def _gap(cell, emb):
        import numpy as np
        import pandas as pd

        out = np.zeros(len(cell), dtype=np.float64)
        for i, (c, e) in enumerate(zip(cell.to_numpy(), emb.to_numpy())):
            mu = cmap.get(int(c))
            if mu is not None:
                d = np.asarray(e, dtype=np.float64) - np.asarray(mu)
                out[i] = float(np.sqrt((d * d).sum()))
        return pd.Series(out)

    rounds = math.ceil(deficit / max(1, len(cents_list)))
    # rank on a SKINNY relation: the per-cell window shuffles only
    # (cell, vid, gap) — embeddings would multiply the shuffle by d and
    # are fetched afterwards for just the <= deficit winners via a
    # pushed-down id filter
    ranked = (
        seeded.select(
            F.col(seed_col).alias("_cell"),
            F.col(id_col).alias("_vid"),
            _gap(F.col(seed_col), F.col("embedding")).alias("_gap"),
        )
        .withColumn("_gsize", F.count(F.lit(1)).over(Window.partitionBy("_cell")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("_cell").orderBy(
                    F.desc("_gap"), F.asc("_vid")
                )
            ),
        )
        # cap splits at _gsize - 1: promoting EVERY member of a small
        # group would leave the donor cell empty after the next assign
        # pass — the exact shortfall the top-up exists to fix (r10
        # review)
        .filter(
            (F.col("_rk") <= rounds) & (F.col("_rk") <= F.col("_gsize") - 1)
        )
        .orderBy(F.asc("_rk"), F.desc("_gsize"), F.asc("_cell"))
        .limit(deficit)
        .collect()
    )
    win_ids = [r["_vid"] for r in ranked]
    emb_map = {
        r[id_col]: [float(x) for x in r["embedding"]]
        for r in seeded.select(id_col, "embedding")
        .filter(F.col(id_col).isin(win_ids))
        .collect()
    }
    topped = list(cents_list)
    for new_cell, r in zip(missing, ranked):
        topped.append((int(new_cell), emb_map[r["_vid"]]))
    return topped


def _train_ivf(
    embeddings: DataFrame, n_cells: int, n_rounds: int, id_col: str
) -> tuple[list[tuple[int, list[float]]], list[tuple[int, list[float]]]]:
    """IVF centroid training: SRP sign-pattern seeds (``srp_seed_cells``),
    the empty-cell top-up, then ``n_rounds`` Lloyd rounds. Returns the
    centroids the last round assigned with and the final centroids (the
    same list when ``n_rounds`` is 0).

    Each pass is ONE fused corpus pass (r13): the mapper assigns and
    emits exact-decimal per-cell partial sums, so only C*d skinny rows
    are shuffled (guide §2.3/§2.4); the means are bit-identical to
    ``build_centroids`` (parity-pinned). Centroids (C x d floats)
    round-trip through the driver because C is tiny by construction.
    Deterministic: seeds are a pure function of the vector, means are
    order-independent, assignment ties break on (rounded score, cell
    id) — so rebuilds at any partitioning converge identically."""
    from vectolite_spark._pandas_udfs import (
        make_assign_sum_mapper,
        make_seed_sum_mapper,
    )

    emb_in = embeddings.select(F.col(id_col).alias("vec_id"), "embedding")
    cents = _centroids_from_partials(
        emb_in.mapInPandas(make_seed_sum_mapper(n_cells), schema=_PARTIAL_SUM_SCHEMA)
    )
    if len(cents) < n_cells:
        # degenerate path only (empty seed cells): the top-up needs the
        # per-row seed column — the seed is a pure function of the
        # vector, so recomputing it here is identical
        seeded = embeddings.withColumn(
            "_seed_cell", _srp_seed_col(n_cells)(F.col("embedding"))
        )
        cents = _topup_seed_centroids(seeded, cents, n_cells, id_col=id_col)
    prev = cents
    for _ in range(n_rounds):
        prev = cents
        cents = _centroids_from_partials(
            emb_in.mapInPandas(
                make_assign_sum_mapper([c for c, _ in prev], [v for _, v in prev]),
                schema=_PARTIAL_SUM_SCHEMA,
            )
        )
    return prev, cents


def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    cluster_col: str | None = "label",
    id_col: str = "vec_id",
    n_iters: int = 1,
) -> None:
    """Build and PERSIST the IVF index: ``{index_path}/centroids`` (tiny
    parquet of per-cell mean vectors, exact-DECIMAL so rebuilds are
    idempotent) and ``{index_path}/cells`` (the vectors, parquet
    **partitioned by cell id**).

    The partitioned layout is the whole point: at query time the
    ``cell IN (probes)`` predicate is a partition filter, so a 1000-executor
    cluster reads n_probe/n_cells of the data and shuffles nothing — the
    N*d centroid shuffle happens once here, never per query. With
    ``cluster_col=None`` cells come from nearest-centroid assignment over a
    coarse seed clustering (k-means-style single pass) instead of a label.

    The reference has no index at all (vectolite.py:145-171 is always a
    full scan); this is the north-star extension's build/probe split.
    """
    clear_index_ready(embeddings.sparkSession, index_path)
    if cluster_col is None:
        # 16 seed cells, then ``n_iters`` (at least one) Lloyd rounds;
        # the cells layout uses the LAST round's assignment (the one the
        # final means were computed over)
        prev_cents, cents_list = _train_ivf(
            embeddings, 16, max(1, n_iters), id_col
        )
        assigned = assign_cells(embeddings, prev_cents, id_col=id_col)
        cents = local_df(
            embeddings.sparkSession,
            [(c, v) for c, v in cents_list],
            "cluster bigint, centroid array<double>",
        )
    else:
        assigned = embeddings.select(
            F.col(id_col).alias("vec_id"),
            "embedding",
            F.col(cluster_col).cast("long").alias("cell"),
        )
        cents = build_centroids(embeddings, cluster_col)
    cents.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    (
        # cluster by cell before partitionBy: otherwise EVERY upstream
        # task writes a file into every cell dir (n_cells x n_tasks tiny
        # files), and probe jobs drown in per-file task scheduling
        # (found by the 1M-row SCALING section-9 run, r9). One file per
        # cell is still splittable at scale — parquet row groups.
        assigned.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/cells")
    )
    mark_index_ready(embeddings.sparkSession, index_path, {"family": "ivf"})


class IVFIndex:
    """Handle over a persisted IVF index: centroids cached driver-side
    (tiny — n_cells rows), vectors left on disk until probed."""

    def __init__(self, spark, index_path: str):
        self.spark = spark
        self.path = index_path
        self.centroids = [
            (int(r["cluster"]), list(r["centroid"]))
            for r in spark.read.parquet(f"{index_path}/centroids").collect()
        ]
        # open-once/probe-many: re-reading per probe re-LISTED the whole
        # partitioned layout (n_cells directories) on every query — at
        # 1024 cells that listing dominated per-query latency (measured
        # by the 1M SCALING section-9 run, r9). The handle snapshots the
        # file listing at construction; REOPEN the handle after appends
        # (every append/sync flow in this repo constructs handles after
        # mutating, never before).
        self._cells = spark.read.parquet(f"{index_path}/cells")

    def cells(self) -> DataFrame:
        return self._cells

    def probe(self, qvec: Sequence[float], n_probe: int = 1) -> list[int]:
        return greedy_probes(self.centroids, qvec, n_probe)

    def topk(
        self, qvec: Sequence[float], k: int = 10, n_probe: int = 1
    ) -> DataFrame:
        """Query WITHOUT touching the full table: the ``cell`` predicate is
        a partition filter on the probed parquet layout (directory pruning —
        asserted in tests/test_scale_plans.py), then the zero-exchange
        partial top-k. No centroid rebuild, no N*d shuffle, no posexplode.
        """
        probes = self.probe(qvec, n_probe)
        cell = self.cells().filter(F.col("cell").isin([int(p) for p in probes]))
        return topk_ids(cell, qvec, k)

    def batch_topk(
        self,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 10,
        n_probe: int = 1,
    ) -> DataFrame:
        """Serve MANY vector queries from ONE index probe — the IVF
        analogue of ``BM25Index.batch_topk``. Probe selection runs
        driver-side per query (centroids are tiny); the UNION of probed
        cells reads once (partition pruning), and a broadcast
        (query_id, cell, qvec) relation pairs each vector row with
        exactly the queries that probed its cell — a query never scores
        a cell it did not probe. One Arrow pair-cosine pass + a
        per-query window produce every query's top-k. Probe cost scales
        with the union's cell sizes, not Q x corpus. Returns
        (query_id, vec_id, score, rn)."""
        from pyspark.sql import Window

        from vectolite_spark._pandas_udfs import make_pair_cosine_udf

        require_unique_query_ids([qid for qid, _ in queries])
        qcells = [
            (int(qid), int(c), [float(x) for x in vec])
            for qid, vec in queries
            for c in self.probe(vec, n_probe)
        ]
        qdf = local_df(
            self.spark, qcells, "query_id long, cell long, qv array<float>"
        )
        cells = self.cells().filter(
            F.col("cell").isin(sorted({c for _, c, _ in qcells}))
        )
        cos = make_pair_cosine_udf()
        scored = cells.join(F.broadcast(qdf), "cell").select(
            "query_id",
            "vec_id",
            F.round(cos(F.col("embedding"), F.col("qv")), 6).alias("score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id")
        )
        return scored.withColumn(
            "rn", F.row_number().over(w).cast("long")
        ).filter(F.col("rn") <= k)


def load_ivf_index(spark, index_path: str) -> IVFIndex:
    return IVFIndex(spark, index_path)


def topk_batch_lsh(
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    n_tables: int = 16,
    n_planes: int = 6,
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    id_col: str = "vec_id",
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Big-Q batch similarity search: when the query set is ITSELF a large
    table (closure-shipping in ``topk_batch`` stops scaling), bucket BOTH
    sides with the same deterministic SRP planes and equi-join on
    (table, bucket) — each query meets only its candidate vectors, never
    the full N x Q cross. Candidates are rescored exactly; per-query
    top-k via window. Approximate (recall < 1 is the LSH trade) — gated
    by a recall-vs-exact pytest, not an oracle. Defaults (16 tables x 6
    planes) target neighbors out to ~60 deg: per-table collision
    (1-theta/pi)^6 ~ 0.09, across 16 tables ~ 0.77 — tune n_planes UP
    (selectivity) and n_tables UP (recall) as the corpus grows and true
    neighbors get closer.

    Plan: two narrow matmul stages (bucket each side), one shuffle to
    co-locate buckets, exact cosine on candidates, one shuffle on
    query_id for the final top-k window. Returns
    (query_id, vec_id, score, rn), rn in 1..k.
    """
    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import (
        make_pair_cosine_udf,
        make_srp_bucket_mapper,
    )

    mapper = make_srp_bucket_mapper(n_tables, n_planes)
    qb = queries.select(
        F.col(qid_col).alias("vec_id"), F.col(qvec_col).alias("embedding")
    ).mapInPandas(mapper, schema="vec_id long, embedding array<float>, block string")
    vb = embeddings.select(F.col(id_col).alias("vec_id"), "embedding").mapInPandas(
        mapper, schema="vec_id long, embedding array<float>, block string"
    )
    # Bucket-size cap via a window count, NOT a groupBy+semi-join: the
    # aggregate subtree would RE-RUN the SRP mapper over a second full
    # corpus scan (measured in the executed plan: 2 MapInPandas over
    # embeddings + an extra exchange), i.e. the widest relation bucketed
    # twice per call. The window rides the block exchange the bucket
    # join needs anyway, so the corpus is scanned and SRP-mapped exactly
    # once; the kept-row set is identical (same per-block count, same
    # threshold).
    wb = Window.partitionBy("block")
    vb = (
        vb.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bc") <= max_bucket_size)
        .drop("_bc")
    )
    cand = (
        qb.select(
            F.col("block"),
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        .join(
            vb.select("block", "vec_id", F.col("embedding").alias("dv")),
            "block",
        )
        .select("query_id", "vec_id", "qv", "dv")
    )
    pair_cos = make_pair_cosine_udf()
    # score BEFORE deduplicating cross-table collisions: the score is a
    # deterministic function of the pair, so distinct() on the narrow
    # (query_id, vec_id, score) rows (~24 B) is equivalent to distinct on
    # rows still carrying both d-float vectors (~8d B) — the dedup shuffle
    # shrinks ~40x at d=64, for a little redundant (vectorized) math on
    # the few pairs that collide in more than one table.
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(pair_cos(F.col("dv"), F.col("qv")), SCORE_DECIMALS).alias("score"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def ivf_index_append(
    spark, index_path: str, embeddings: DataFrame, id_col: str = "vec_id"
) -> None:
    """Incremental index maintenance: route NEW vectors to the EXISTING
    centroids (one narrow matmul stage — no shuffle, no rebuild) and
    append them to the cell-partitioned layout. The N*d build cost stays
    amortized; queries see the new vectors immediately via the same
    partition filters. Centroids are not moved — after heavy drift,
    rebuild with ``build_ivf_index`` (idempotent, exact-DECIMAL)."""
    idx = load_ivf_index(spark, index_path)
    assigned = assign_cells(embeddings, idx.centroids, id_col=id_col)
    (
        # cluster the delta by cell too (see build_ivf_index note): one
        # file per touched cell per append instead of one per task
        assigned.repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/cells")
    )


def quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id", emb_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization (see registry.embedding_quantize_int8 for
    the full rationale): per-vector symmetric max-abs scale, explicit
    floor(x+0.5) half-up rounding — portable across engines. Returns
    (id, scale, q: array<int>); zero shuffle."""
    v = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    return embeddings.select(
        F.col(id_col), v.alias("v"), max_abs.alias("max_abs")
    ).select(
        F.col(id_col),
        F.round("max_abs", 6).alias("scale"),
        F.when(
            F.col("max_abs") == 0, F.transform(F.col("v"), lambda x: F.lit(0))
        )
        .otherwise(
            F.transform(
                F.col("v"),
                lambda x: F.floor(
                    x * F.lit(127.0) / F.col("max_abs") + F.lit(0.5)
                ).cast("int"),
            )
        )
        .alias("q"),
    )


def build_pq(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_iters: int = 0,
):
    """Product quantization (Jegou et al., PAMI'11): split each d-dim
    vector into ``m`` subvectors, encode each as the index of its nearest
    per-subspace centroid — d floats compress to m small ints (here
    64x4B -> 8 codes, a 32x compression). Returns (codes_df, codebook):
    codes_df = (id, codes array<int>), codebook = numpy (k, d).

    Codebook = the first ``k`` vectors by id — DETERMINISTIC by
    construction, so the whole encode/search path is DuckDB-oracle-
    checkable (the same reason the SRP planes are md5-derived).
    ``n_iters`` > 0 runs per-subspace Lloyd rounds DISTRIBUTED: encode
    with the current codebook, then one narrow aggregation computes the
    element-wise mean subvector per (subspace, code) — the corpus never
    leaves the executors, only m*k*sub doubles return to the driver per
    round. Empty cells keep their previous centroid. Still deterministic
    (means are order-independent; argmin ties break on the lowest code),
    but the registry oracle pins n_iters=0 — refined codebooks are gated
    by the distortion-decrease pytest instead.

    Float determinism contract: all distance math is float64 with
    EXPLICIT left-associative accumulation over dims (a dim-at-a-time
    loop here, a parenthesized addition chain in the oracle SQL) — numpy
    pairwise summation would produce different ULPs than SQL's
    sequential fold and flip argmin ties.
    """
    from vectolite_spark._pandas_udfs import make_pq_encode_mapper

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    codebook = train_pq_codebook(
        embeddings, m=m, k=k, id_col=id_col, emb_col=emb_col, n_iters=n_iters
    )
    return (
        base.mapInPandas(
            make_pq_encode_mapper(codebook, m),
            schema="vec_id long, codes array<int>",
        ),
        codebook,
    )


def train_pq_codebook(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_iters: int = 0,
):
    """The training half of ``build_pq`` (codebook only, no codes scan) —
    split out so ``build_ivfpq_index`` can train first and then produce
    codes in the SAME pass that assigns IVF cells (one corpus scan, no
    vec_id shuffle join). Semantics identical to ``build_pq``'s
    docstring: seed = first ``k`` vectors by id; each Lloyd round is one
    encode pass + one narrow (subspace, code) mean aggregation — the
    encode pass carries the embedding through its own mapper
    (``with_embedding=True``), so the round does ZERO exchanges where
    the old shape shuffle-joined the full corpus back onto its codes."""
    import numpy as np

    from vectolite_spark._pandas_udfs import make_pq_encode_mapper

    cb_rows = (
        embeddings.filter(F.col(id_col) < k)
        .orderBy(id_col)
        .select(emb_col)
        .collect()
    )
    codebook = np.array([list(r[0]) for r in cb_rows], dtype=np.float64)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    d = codebook.shape[1]
    sub = d // m

    for _ in range(n_iters):
        assigned = base.mapInPandas(
            make_pq_encode_mapper(codebook, m, with_embedding=True),
            schema="vec_id long, codes array<int>, embedding array<float>",
        ).select("embedding", F.posexplode("codes").alias("j", "code"))
        means = (
            assigned.groupBy("j", "code")
            .agg(
                *[
                    F.avg(
                        F.element_at("embedding", (F.col("j") * sub + di + 1))
                        .cast("double")
                    ).alias(f"d{di}")
                    for di in range(sub)
                ]
            )
            .collect()
        )
        new_cb = codebook.copy()
        for r in means:
            for di in range(sub):
                new_cb[r["code"], r["j"] * sub + di] = r[f"d{di}"]
        codebook = new_cb
    return codebook


def pq_query_table(codebook, qvec, m: int) -> list[list[float]]:
    """The (m x n_centroids) query-to-centroid subspace distance table
    PQ asymmetric search ships in its UDF closure — float64 with
    EXPLICIT left-assoc dim-at-a-time accumulation (the determinism
    contract in ``build_pq``); shared by the single-query and batch
    probe paths so both produce bit-identical distances."""
    import numpy as np

    q = np.asarray(list(qvec), dtype=np.float64)
    d = codebook.shape[1]
    sub = d // m
    qd = np.zeros((m, codebook.shape[0]), dtype=np.float64)
    for j in range(m):
        for dim in range(sub):
            diff = q[j * sub + dim] - codebook[:, j * sub + dim]
            qd[j] = qd[j] + diff * diff
    return [[float(x) for x in row] for row in qd]


def pq_topk(
    codes: DataFrame,
    codebook,
    qvec,
    k: int = 10,
    m: int = 8,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Asymmetric-distance PQ search: the query stays full-precision; a
    (m x n_centroids) lookup table of query-to-centroid subspace
    distances is computed once driver-side (tiny) and shipped in the
    Arrow UDF's closure; each stored vector's approximate distance is
    then m table lookups + a fixed-order sum — no raw vectors decoded,
    ever. The scan is
    over CODES (32x narrower than raw vectors): this is how 100 TB of
    embeddings fits a memory-speed scan. Returns top-k (vec_id,
    approx_dist) by ascending distance, id tie-break.

    ``carry_cols``: extra columns of ``codes`` carried onto the k
    winners through the TakeOrdered heap — the refine stage then
    rescores WITHOUT a join back to the base table (r7: the old
    survivors-broadcast-join materialized an extra job per probe; only
    k rows ever carry the payload, so the heap stays cheap)."""
    table = pq_query_table(codebook, qvec, m)
    # Arrow lookup, not an m*k-literal expression chain: Catalyst
    # analysis of the literal form is linear in the table size (~1.8 s
    # of driver time per query at k=256 — the 1M SCALING run); the UDF
    # sums the same m lookups in the same fixed j order, so the float64
    # result is bit-identical and the oracle contract holds.
    from vectolite_spark._pandas_udfs import make_pq_adist_udf

    dist = make_pq_adist_udf(table)(F.col("codes"))
    return (
        codes.select(
            "vec_id", F.round(dist, 6).alias("approx_dist"), *carry_cols
        )
        .orderBy(F.asc("approx_dist"), F.asc("vec_id"))
        .limit(k)
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    index_path: str,
    n_cells: int = 16,
    m: int = 8,
    pq_k: int = 16,
    id_col: str = "vec_id",
    pq_iters: int = 2,
    ivf_iters: int = 2,
    cluster_col: str | None = None,
) -> None:
    """Build and persist an IVF-PQ index (the FAISS IVFPQ shape — the
    standard billion-scale layout): vectors are routed to IVF cells
    (partition pruning at query time) AND product-quantized (32x narrower
    scan within each probed cell). Layout:

        {path}/centroids   IVF cell centroids (tiny)
        {path}/codebook    PQ codebook, (code, centroid) rows (tiny)
        {path}/cells       (vec_id, codes, embedding) partitioned by cell

    Raw embeddings ride along INSIDE the partitioned layout solely for the
    exact-rescore refine step — at query time they are read only for the
    ~4k PQ survivors, never scanned (column pruning: the codes scan never
    materializes the embedding column).

    ``cluster_col``: route cells by an existing cluster column (centroids
    = exact-DECIMAL per-cluster means) instead of Lloyd-refined k-means —
    the oracle-replicable routing the registry's partial-probe recall
    entry uses.

    Cell assignment and PQ codes are both pure per-row functions of the
    embedding, so the cells write computes them in ONE fused mapInPandas
    pass (``make_assign_encode_mapper``) — the old assign-pass +
    encode-pass + ``join("vec_id")`` shape paid a full corpus-wide
    shuffle of the embedding bytes on both join sides before the
    ``repartition(cell)`` exchange; the fused plan's only exchange IS
    the cell clustering."""
    from concurrent.futures import ThreadPoolExecutor

    from vectolite_spark._pandas_udfs import make_assign_encode_mapper

    spark = embeddings.sparkSession
    clear_index_ready(spark, index_path)
    # The IVF side (seed -> top-up -> Lloyd refinement) and the PQ side
    # (codebook training) are independent computations over the same
    # immutable input — neither reads anything the other produces until
    # the fused encode pass needs both. Sequential execution serialized
    # two multi-pass driver-coordinated chains; training the codebook on
    # a driver thread while the IVF chain runs on the main thread
    # overlaps them (guide §2.6 — concurrent jobs back-fill each
    # other's straggler tails). Both chains are deterministic, so the
    # built index is identical to the sequential build's.
    pq_pool = ThreadPoolExecutor(max_workers=1)
    fut_codebook = pq_pool.submit(
        train_pq_codebook, embeddings, m=m, k=pq_k, id_col=id_col,
        n_iters=pq_iters,
    )

    fused_schema = "vec_id long, codes array<int>, embedding array<float>, cell long"
    if cluster_col is not None:
        cents_list = [
            (int(r["cluster"]), list(r["centroid"]))
            for r in build_centroids(embeddings, cluster_col).collect()
        ]
        fused_in = embeddings.select(
            F.col(id_col).alias("vec_id"),
            "embedding",
            F.col(cluster_col).cast("long").alias("cell"),
        )
    else:
        fused_in = embeddings.select(F.col(id_col).alias("vec_id"), "embedding")
        # Lloyd refinement of the IVF level, from GEOMETRY-AWARE seeds
        # (r9): seed cell = the vector's sign pattern under
        # ceil(log2(n_cells)) deterministic md5-Rademacher projections —
        # random-projection k-means initialization. The old id-modulo
        # seeds were random SAMPLES of the whole distribution, so every
        # seed mean collapsed to ~the global mean and Lloyd had to
        # differentiate nearly identical centroids; at n_cells in the
        # hundreds-plus that never recovered within a few rounds
        # (recall@10 = 0.06 at 1M x 1024 cells — the SCALING section-9
        # run). Sign-pattern seeds separate real clusters from round
        # zero. The FINAL assignment below uses the refined centroids —
        # routing at query time must agree with the cells on disk.
        _, cents_list = _train_ivf(
            embeddings, n_cells, max(0, ivf_iters), id_col
        )
    try:
        codebook = fut_codebook.result()
    finally:
        pq_pool.shutdown(wait=True)

    # the three artifact writes are independent — overlapped as
    # concurrent jobs (guide §2.6); the ready marker follows them all
    from vectolite_spark.parallel import run_jobs

    def _write_centroids():
        local_df(
            spark,
            [(c, v) for c, v in cents_list],
            "cluster bigint, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{index_path}/centroids"
        )

    def _write_codebook():
        local_df(
            spark,
            [
                (i, [float(x) for x in codebook[i]])
                for i in range(codebook.shape[0])
            ],
            "code int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{index_path}/codebook"
        )

    mapper = make_assign_encode_mapper(
        None if cluster_col is not None else [c for c, _ in cents_list],
        None if cluster_col is not None else [v for _, v in cents_list],
        codebook,
        m,
    )

    def _write_cells():
        (
            fused_in.mapInPandas(mapper, schema=fused_schema)
            # cluster by cell before partitionBy — see build_ivf_index note
            .repartition(F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{index_path}/cells")
        )

    run_jobs(_write_centroids, _write_codebook, _write_cells)
    mark_index_ready(
        spark,
        index_path,
        {
            "family": "ivfpq",
            "m": int(m),
            "n_cells": len(cents_list),
            "pq_k": int(codebook.shape[0]),
        },
    )


class IVFPQIndex:
    """Handle over a persisted IVF-PQ index. Query = probe cells
    (partition pruning) -> PQ asymmetric distance over the narrow codes
    columns -> exact cosine rescore of the top ``refine`` survivors (the
    classic refine step: approximate order finds candidates, full
    precision ranks them). The subspace count ``m`` comes from the
    index's ready marker."""

    def __init__(self, spark, index_path: str):
        import numpy as np

        self.spark = spark
        self.path = index_path
        self.m = index_params(spark, index_path)["m"]
        self.centroids = [
            (int(r["cluster"]), list(r["centroid"]))
            for r in spark.read.parquet(f"{index_path}/centroids").collect()
        ]
        cb_rows = sorted(
            (
                (int(r["code"]), list(r["centroid"]))
                for r in spark.read.parquet(f"{index_path}/codebook").collect()
            )
        )
        self.codebook = np.array([v for _, v in cb_rows], dtype=np.float64)
        # open-once/probe-many: see IVFIndex.__init__ — per-probe reads
        # re-listed all n_cells partition dirs; the handle snapshots the
        # listing at FIRST probe, so REOPEN after appends (all
        # sync/append flows here construct handles after mutating).
        # Lazy: ivfpq_index_append constructs a handle for the frozen
        # centroids+codebook BEFORE the first fill, when cells may not
        # exist yet.
        self._cells = None

    def _open_cells(self) -> DataFrame:
        if self._cells is None:
            self._cells = self.spark.read.parquet(f"{self.path}/cells")
        return self._cells

    def probe(self, qvec: Sequence[float], n_probe: int = 1) -> list[int]:
        return greedy_probes(self.centroids, qvec, n_probe)

    def topk(
        self,
        qvec: Sequence[float],
        k: int = 10,
        n_probe: int = 4,
        refine: int = 100,
    ) -> DataFrame:
        from vectolite_spark.operators.topk import topk_ids

        probes = greedy_probes(self.centroids, qvec, n_probe)
        cells = self._open_cells().filter(
            F.col("cell").isin([int(p) for p in probes])
        )
        # carry the rescore payload THROUGH the PQ TakeOrdered heap:
        # probe -> refine -> exact rescore is then ONE job end to end —
        # the old shape (survivors -> broadcast join back onto cells)
        # materialized the survivor ids as a separate broadcast job per
        # probe (r7: 0.8 s -> ~0.45 s at sf0.1). Only `refine` rows ever
        # carry the embedding bytes, so the heap cost is unchanged.
        survivors = pq_topk(
            cells.select("vec_id", "codes", "embedding"),
            self.codebook,
            qvec,
            k=refine,
            m=self.m,
            carry_cols=("embedding",),
        )
        return topk_ids(survivors.select("vec_id", "embedding"), qvec, k)

    def batch_topk(
        self,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 10,
        n_probe: int = 4,
        refine: int = 100,
    ) -> DataFrame:
        """Serve MANY queries from ONE scan of the probed-cell union —
        the compressed-index analogue of ``IVFIndex.batch_topk`` and the
        high-QPS offline shape (eval sweeps, hard-negative mining,
        recall audits). Probe selection runs driver-side per query
        (centroids are tiny); per-query (m x k) distance tables are
        precomputed driver-side and shipped in ONE Arrow closure; a
        broadcast (query_id, cell) relation pairs each stored row with
        exactly the queries that probed its cell. Stage shape:

          1. codes scan of the probed-cell union (partition pruning;
             embedding column NEVER read here — column pruning) ->
             pair adist -> per-query top-``refine`` window on SKINNY
             (query_id, vec_id, approx_dist) rows;
          2. survivors (<= Q*refine rows — broadcastable by
             construction) broadcast-join back onto the pruned union to
             fetch embeddings for ONLY those pairs -> exact pair-cosine
             rescore -> per-query top-k window.

        Both shuffles carry skinny rows; the d-wide embedding bytes ride
        only on Q*refine survivor pairs. PQ approximate distances are
        bit-identical to Q single ``topk`` calls (shared
        ``pq_query_table`` + same fixed-j-order UDF math), same tie
        order (rounded 6dp, vec_id asc). The exact-rescore cosine runs
        through a different float kernel than the single path
        (elementwise ``(A*B).sum`` here vs BLAS matmul in ``topk_ids``),
        so a knife-edge score sitting exactly on a 6dp rounding boundary
        could in principle round apart between the two paths — the same
        measure-zero boundary class as every rounded-score comparison in
        this repo (see the SRP bucket mapper's sign-boundary note).
        With every cell probed and ``refine`` >= the union size the
        result is REQUIRED to equal brute-force per-query cosine top-k,
        which is how the registry oracle checks this path.
        Returns (query_id, vec_id, score, rn)."""
        from pyspark.sql import Window

        from vectolite_spark._pandas_udfs import (
            make_pair_cosine_udf,
            make_pq_adist_multi_udf,
        )

        qlist = [
            (int(qid), [float(x) for x in vec]) for qid, vec in queries
        ]
        require_unique_query_ids([q for q, _ in qlist])
        spark = self.spark
        qcells = [
            (qid, int(c))
            for qid, vec in qlist
            for c in self.probe(vec, n_probe)
        ]
        route = local_df(spark, qcells, "query_id long, cell long")
        cells = self._open_cells().filter(
            F.col("cell").isin(sorted({c for _, c in qcells}))
        )
        tables = {
            qid: pq_query_table(self.codebook, vec, self.m)
            for qid, vec in qlist
        }
        adist = make_pq_adist_multi_udf(tables)(
            F.col("codes"), F.col("query_id")
        )
        w_refine = Window.partitionBy("query_id").orderBy(
            F.asc("approx_dist"), F.asc("vec_id")
        )
        survivors = (
            cells.select("cell", "vec_id", "codes")
            .join(F.broadcast(route), "cell")
            .select(
                "query_id", "vec_id", F.round(adist, 6).alias("approx_dist")
            )
            .withColumn("rn", F.row_number().over(w_refine))
            .filter(F.col("rn") <= refine)
            .select("query_id", "vec_id")
        )
        qv_df = local_df(
            spark, qlist, "query_id long, qv array<float>"
        )
        cos = make_pair_cosine_udf()
        w_k = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id")
        )
        return (
            cells.select("vec_id", "embedding")
            .join(F.broadcast(survivors), "vec_id")
            .join(F.broadcast(qv_df), "query_id")
            .select(
                "query_id",
                "vec_id",
                F.round(cos(F.col("embedding"), F.col("qv")), 6).alias(
                    "score"
                ),
            )
            .withColumn("rn", F.row_number().over(w_k).cast("long"))
            .filter(F.col("rn") <= k)
        )


def ivfpq_index_append(
    spark, index_path: str, embeddings: DataFrame, id_col: str = "vec_id"
) -> None:
    """Incremental IVF-PQ maintenance (r8; the ``ivf_index_append`` twin
    for the compressed layout): route NEW vectors to the EXISTING IVF
    centroids and encode them with the FROZEN PQ codebook, then append
    into the cell-partitioned layout — one narrow matmul + encode stage,
    no rebuild, no touch of existing cells' files. Probes see the new
    vectors immediately (routing and codes are pure functions of the
    frozen index parameters). Neither centroids nor codebook move —
    after heavy distribution drift, rebuild with ``build_ivfpq_index``
    (quantization error of appended vectors grows with drift; the
    exact-rescore refine step keeps returned SCORES true either way).
    The delta is encoded with the ``m`` the index's ready marker
    records, so every stored codes array keeps one length."""
    idx = IVFPQIndex(spark, index_path)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), "embedding"
    )
    # fused route+encode pass — see build_ivfpq_index: one delta scan,
    # no vec_id shuffle join
    from vectolite_spark._pandas_udfs import make_assign_encode_mapper

    mapper = make_assign_encode_mapper(
        [c for c, _ in idx.centroids],
        [v for _, v in idx.centroids],
        idx.codebook,
        idx.m,
    )
    (
        base.mapInPandas(
            mapper,
            schema="vec_id long, codes array<int>, embedding array<float>, cell long",
        )
        # cluster the delta by cell — see build_ivf_index note
        .repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(f"{index_path}/cells")
    )


def diagnose_operating_point(
    spark,
    index_path: str,
    queries,
    k: int = 10,
    n_probes: Sequence[int] = (8, 32),
    refine: int = 1000,
    refine_widen: int = 10,
    flat_tol: float = 0.05,
    target_recall: float = 0.95,
    truth: dict | None = None,
    rebuild_dir: str | None = None,
    pq_k: int = 64,
    pq_iters: int = 1,
    ivf_iters: int = 2,
) -> dict:
    """Run SCALING §9b's operating-point diagnostic as a FUNCTION CALL
    (VERDICT r10 item 4 — the production rule was prose a deployment
    had to read; now it is executable against the deployment's own
    index and queries).

    Protocol (§9b item 3, measured on 1M x 64 anisotropic geometry):
    sweep ``n_probe`` once at the current ``refine``. If recall is FLAT
    (max-min <= ``flat_tol``), the index is QUANTIZATION-BOUND — PQ tie
    groups, not routing, are dropping true neighbors — and the fixes in
    cost order are (a) widening ``refine`` at query time (no rebuild;
    §9b measured 0.724 -> 1.0 at 10x refine, +105% latency) or
    (b) doubling ``m`` at rebuild (finer subspaces shrink the tie
    groups; measured 0.988 at the ORIGINAL refine and LOWER latency —
    the better steady-state when a rebuild is affordable). If recall
    instead CLIMBS with n_probe, the index is ROUTING-BOUND and needs
    more probes or more cells. Both candidate fixes are MEASURED here,
    not asserted: (a) always, (b) when ``rebuild_dir`` is given (the 2m
    index is rebuilt from the raw embeddings that ride inside
    ``{index_path}/cells`` — self-contained, no corpus handle needed).
    The index's ``m`` (ready marker) and cell count (its centroids) are
    read from the index itself.

    ``queries``: DataFrame with (query_id, query_vec) columns.
    ``truth``: optional {query_id: set(vec_id)} exact top-k; computed
    from the index's own cells (exact batch scan) when omitted.
    Returns a dict with the sweep, the classification, each measured
    fix, and ``recommendation`` — the §9b fix order with recall deltas.
    """
    from vectolite_spark.operators.topk import topk_batch

    qrows = [
        (r["query_id"], [float(x) for x in r["query_vec"]])
        for r in queries.select("query_id", "query_vec").collect()
    ]
    corpus = None
    if truth is None:
        corpus = spark.read.parquet(f"{index_path}/cells").select(
            "vec_id", "embedding"
        )
        truth = {}
        for r in topk_batch(queries, corpus, k=k).collect():
            truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    denom = sum(len(t) for t in truth.values()) or 1

    def _recall(idx, n_probe: int, ref: int) -> float:
        # ONE batch job per sweep point, not Q sequential probes —
        # batch_topk is bit-identical to Q single topk calls (shared
        # pq_query_table + same tie order), so the measured recalls are
        # unchanged while the diagnostic runs Q x fewer Spark jobs
        hits = 0
        for r in idx.batch_topk(qrows, k=k, n_probe=n_probe, refine=ref).collect():
            if r["vec_id"] in truth.get(r["query_id"], set()):
                hits += 1
        return round(hits / denom, 4)

    idx = IVFPQIndex(spark, index_path)
    m, n_cells = idx.m, len(idx.centroids)
    probes = sorted(set(int(p) for p in n_probes))
    sweep = {p: _recall(idx, p, refine) for p in probes}
    lo, hi = sweep[probes[0]], sweep[probes[-1]]
    climb = hi - lo
    base_recall = sweep[probes[0]]
    out: dict = {
        "index_path": index_path,
        "m": m,
        "k": int(k),
        "refine": int(refine),
        "n_probe_sweep": {str(p): sweep[p] for p in probes},
        "n_probe_climb": round(climb, 4),
        "base_recall": base_recall,
    }
    if climb > flat_tol:
        # ROUTING-BOUND: true neighbors live in cells the probe never
        # visits. Both candidate fixes are MEASURED (VERDICT r11 item 3
        # — the quantization branch already measured both of its fixes;
        # this branch returned prose):
        #   (a) query-time: raise n_probe — the sweep already measured
        #       recall at probes[-1], no extra job;
        #   (b) rebuild: double n_cells at the SAME m (finer routing
        #       granularity), rebuilt from the raw embeddings riding in
        #       {index_path}/cells. Measured at 2*probes[0] probes —
        #       the SAME scanned corpus fraction as the baseline's
        #       probes[0]-of-C, so the delta isolates granularity from
        #       scan budget — and at probes[0] (equal job fan-out,
        #       half the scan) for the latency-minded reading.
        out["classification"] = "routing-bound"
        out["n_probe_raised"] = {
            "n_probe": probes[-1],
            "recall": hi,
        }
        rec = [
            f"recall climbs with n_probe (+{climb:.3f} from "
            f"{probes[0]} to {probes[-1]}): routing-bound — probes, "
            "not PQ tie groups, are dropping true neighbors",
            f"query-time fix (no rebuild): n_probe {probes[0]} -> "
            f"{probes[-1]} measured recall {base_recall:.3f} -> "
            f"{hi:.3f} (scan cost grows ~linearly with n_probe)",
        ]
        if rebuild_dir is not None:
            if corpus is None:
                corpus = spark.read.parquet(f"{index_path}/cells").select(
                    "vec_id", "embedding"
                )
            c2 = 2 * n_cells
            build_ivfpq_index(
                corpus,
                rebuild_dir,
                n_cells=c2,
                m=m,
                pq_k=pq_k,
                pq_iters=pq_iters,
                ivf_iters=ivf_iters,
            )
            idx2 = IVFPQIndex(spark, rebuild_dir)
            same_frac = _recall(idx2, 2 * probes[0], refine)
            same_jobs = _recall(idx2, probes[0], refine)
            out["cells_doubled"] = {
                "n_cells": c2,
                "recall_at_equal_scan_fraction": same_frac,
                "n_probe_equal_scan_fraction": 2 * probes[0],
                "recall_at_equal_n_probe": same_jobs,
                "rebuild_dir": rebuild_dir,
            }
            if same_frac >= target_recall:
                rec.append(
                    f"rebuild fix: n_cells {n_cells} -> {c2} at the same "
                    f"scanned fraction (n_probe={2 * probes[0]}) measured "
                    f"recall {same_frac:.3f} >= target {target_recall} — "
                    "prefer it over probe-widening when a rebuild is "
                    "affordable (finer routing at equal scan budget)"
                )
            else:
                rec.append(
                    f"rebuild at n_cells={c2} measured recall "
                    f"{same_frac:.3f} (equal scan fraction) / "
                    f"{same_jobs:.3f} (equal n_probe) < target "
                    f"{target_recall}: stay on the probe-widening fix "
                    "(or combine both)"
                )
        out["recommendation"] = rec
        return out
    out["classification"] = "quantization-bound"
    wide = int(refine * refine_widen)
    wide_recall = _recall(idx, probes[0], wide)
    out["refine_widened"] = {"refine": wide, "recall": wide_recall}
    rec = [
        f"recall flat in n_probe (spread {climb:.3f} <= {flat_tol}): "
        "quantization-bound — PQ tie groups drop true neighbors; "
        "n_probe cannot fix it",
        f"query-time fix (no rebuild): refine {refine} -> {wide} "
        f"measured recall {base_recall:.3f} -> {wide_recall:.3f}",
    ]
    if rebuild_dir is not None:
        if corpus is None:
            corpus = spark.read.parquet(f"{index_path}/cells").select(
                "vec_id", "embedding"
            )
        m2 = 2 * m
        build_ivfpq_index(
            corpus,
            rebuild_dir,
            n_cells=n_cells,
            m=m2,
            pq_k=pq_k,
            pq_iters=pq_iters,
            ivf_iters=ivf_iters,
        )
        idx2 = IVFPQIndex(spark, rebuild_dir)
        m2_recall = _recall(idx2, probes[0], refine)
        out["m_doubled"] = {
            "m": m2,
            "refine": int(refine),
            "recall": m2_recall,
            "rebuild_dir": rebuild_dir,
        }
        if m2_recall >= target_recall:
            rec.append(
                f"rebuild fix (better steady-state, §9b): m={m2} at the "
                f"ORIGINAL refine={refine} measured recall "
                f"{m2_recall:.3f} >= target {target_recall} — prefer it "
                "over refine-widening when a rebuild is affordable "
                "(lower query latency at equal recall)"
            )
        else:
            rec.append(
                f"rebuild at m={m2} measured recall {m2_recall:.3f} < "
                f"target {target_recall}: stay on the refine-widening "
                "fix (or combine both)"
            )
    out["recommendation"] = rec
    return out


def srp_query_blocks(
    qvec, n_tables: int = 16, n_planes: int = 6
) -> list[str]:
    """Driver-side twin of ``make_srp_bucket_mapper`` for ONE vector:
    the query's (table, bucket) block keys, ``srp_bucket_codes`` of the
    1 x d matrix holding it."""
    import numpy as np

    from vectolite_spark._pandas_udfs import srp_bucket_codes

    codes = srp_bucket_codes(
        np.asarray([qvec], dtype=np.float64), n_tables, n_planes
    )[0]
    return [f"{t}:{c}" for t, c in enumerate(codes)]


def build_srp_index(
    embeddings: DataFrame,
    index_path: str,
    n_tables: int = 16,
    n_planes: int = 6,
    id_col: str = "vec_id",
) -> None:
    """Persist the SRP-LSH bucket layout: one row per (vector, table)
    under ``{path}/cells`` PARTITIONED BY block — the build-once answer
    to ``topk_batch_lsh`` re-bucketing the whole table per call. A
    probe reads exactly the query's T block directories (directory
    pruning, no scan of the other T*2^b - T); storage is T copies of the
    vector table — the standard multi-table LSH trade, and the copies
    are what let each probe touch ~T/(T*2^b) of the data. The ready
    marker records (n_tables, n_planes), so probes and appends bucket
    with the build's planes without restating them."""
    from vectolite_spark._pandas_udfs import make_srp_bucket_mapper
    from vectolite_spark.operators.layout import fan_out_small_scan

    spark = embeddings.sparkSession
    clear_index_ready(spark, index_path)
    mapper = make_srp_bucket_mapper(n_tables, n_planes)
    # fan out a sub-parallelism scan BEFORE the T-way replicating Arrow
    # mapper (guide §2.5: one unsplittable input otherwise runs the
    # whole T x corpus expansion on ONE task); no-op at real scale
    vb = fan_out_small_scan(
        embeddings.select(F.col(id_col).alias("vec_id"), "embedding")
    ).mapInPandas(mapper, schema="vec_id long, embedding array<float>, block string")
    # cluster by block before partitionBy — the build_ivf_index
    # pattern: without it every mapper task writes a sliver into
    # every one of the T*2^b block dirs (tasks x 1024 tiny files,
    # and the single-task tiny-corpus case serializes 1024 file
    # creates behind one another — measured 21-52 s at sf0.1 for
    # ~3 MB of data). The shuffle moves only the delta the write
    # itself is about to move, AQE sizes the partition count, and
    # each block dir comes out as one splittable file.
    # explicit numPartitions = defaultParallelism: an AQE-coalesced
    # keyed exchange packs these tiny-BYTE partitions onto a few
    # tasks, but the write cost here is per-FILE (one parquet
    # create per block dir), so byte-based coalescing serializes
    # ~1024 file creates behind ~6 tasks. A fixed partition count
    # keyed by block keeps whole blocks together (still one file
    # per dir) while spreading file creation across the cluster.
    with phase("srp build: cells write"):
        vb.repartition(
            spark.sparkContext.defaultParallelism, F.col("block")
        ).write.mode("overwrite").partitionBy("block").parquet(
            f"{index_path}/cells"
        )
    mark_index_ready(
        spark,
        index_path,
        {"family": "srp", "n_tables": int(n_tables), "n_planes": int(n_planes)},
    )


def srp_index_topk(
    spark,
    index_path: str,
    qvec,
    k: int = 10,
) -> DataFrame:
    """Probe a persisted SRP-LSH index: compute the query's T blocks
    driver-side with the planes its ready marker records, scan ONLY
    those partition directories, dedupe cross-table collisions on the
    narrow (vec_id, score) pair, exact top-k. Same planes as
    ``topk_batch_lsh`` -> identical results to the self-contained path
    (oracle-shared)."""
    from pyspark.sql import Window

    from vectolite_spark.functions.vector import cosine_score

    params = index_params(spark, index_path)
    blocks = srp_query_blocks(qvec, params["n_tables"], params["n_planes"])
    # enumerate ONLY the query's block directories (basePath keeps the
    # partition column): listing T dirs beats listing all T*2^b and
    # pruning after — the file-index walk is the probe's fixed cost.
    # A block directory may be absent (no vector hashed there): an
    # empty candidate set for that table, not an error. The existence
    # probe is local-FS only; for remote stores (hdfs://, s3a://) fall
    # back to the full listing + partition filter — same pruned scan,
    # one wider file-index walk.
    import os

    if "://" not in index_path:
        # Spark URL-escapes special chars in partition dir names: block
        # '0:12' lives in 'block=0%3A12'
        paths = [
            p
            for b in blocks
            if os.path.exists(
                p := f"{index_path}/cells/block={b.replace(':', '%3A')}"
            )
        ]
        if not paths:
            return local_df(
                spark, [], "vec_id long, score double, rn long"
            )
        cells = (
            spark.read.option("basePath", f"{index_path}/cells")
            .parquet(*paths)
            .filter(F.col("block").isin(blocks))
        )
    else:
        cells = spark.read.parquet(f"{index_path}/cells").filter(
            F.col("block").isin(blocks)
        )
    scored = cells.select(
        "vec_id",
        F.round(cosine_score("embedding", qvec), SCORE_DECIMALS).alias("score"),
    ).distinct()
    # top-k via TakeOrderedAndProject (partial heaps per partition), NOT
    # an unpartitioned row_number window — a hot bucket would funnel the
    # whole candidate set into one task; the k-row rank column is
    # assigned after the limit
    head = scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    return head.withColumn("rn", F.row_number().over(w).cast("long"))


def srp_index_topk_batch(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    max_driver_rows: int | None = None,
) -> DataFrame:
    """Batch probe of the persisted SRP-LSH index: ONE pruned scan for
    the UNION of every query's block directories (the bm25/ivf batch
    discipline), a broadcast (query, block) routing table to fan
    candidates back out per query, exact rescoring, per-query top-k.
    Results are identical to ``topk_batch_lsh`` (same planes, same
    rounding) — the oracle is shared. The query table is collected
    driver-side (small-Q serving shape, like ``topk_batch``); for big-Q
    use ``topk_batch_lsh``, which buckets both sides distributively."""
    from vectolite_spark.operators.topk import (
        MAX_DRIVER_QUERY_ROWS,
        collect_query_working_set,
    )

    qrows = collect_query_working_set(
        queries,
        [qid_col, qvec_col],
        MAX_DRIVER_QUERY_ROWS if max_driver_rows is None else max_driver_rows,
        "operators.ann.topk_batch_lsh",
    )
    return srp_index_topk_vecs(
        spark,
        index_path,
        [int(r[qid_col]) for r in qrows],
        [[float(x) for x in r[qvec_col]] for r in qrows],
        k,
        qid_col=qid_col,
    )


def srp_index_topk_vecs(
    spark,
    index_path: str,
    qids,
    qvecs_in,
    k: int = 10,
    qid_col: str = "query_id",
) -> DataFrame:
    """``srp_index_topk_batch``'s core for a DRIVER-RESIDENT query
    working set (the ``topk_batch_vecs`` twin): ids + vectors as plain
    lists, skipping the createDataFrame -> collect round trip. Query
    ids must be unique within the batch."""
    import os

    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import make_pair_cosine_udf

    qids = [int(q) for q in qids]
    require_unique_query_ids(qids)
    params = index_params(spark, index_path)
    pairs = []
    qvecs = []
    for qid, vec_in in zip(qids, qvecs_in):
        vec = [float(x) for x in vec_in]
        qvecs.append((qid, vec))
        for b in srp_query_blocks(vec, params["n_tables"], params["n_planes"]):
            pairs.append((qid, b))
    # same remote-store discipline as the single-query probe above: an
    # os.path.exists probe is local-FS only, so on hdfs:// / s3a:// it
    # is ALWAYS false — read the full layout and let the partition
    # filter prune instead of silently returning an empty result set
    if "://" not in index_path:
        dirs = sorted(
            {
                p
                for _, b in pairs
                if os.path.exists(
                    p := f"{index_path}/cells/block={b.replace(':', '%3A')}"
                )
            }
        )
        if not dirs:
            return local_df(
                spark, [], f"{qid_col} long, vec_id long, score double, rn long"
            )
        cells = spark.read.option("basePath", f"{index_path}/cells").parquet(
            *dirs
        )
    else:
        cells = spark.read.parquet(f"{index_path}/cells").filter(
            F.col("block").isin(sorted({b for _, b in pairs}))
        )
    qb = local_df(spark, pairs, f"{qid_col} long, block string")
    qv = local_df(spark, qvecs, f"{qid_col} long, qv array<float>")
    cand = cells.join(F.broadcast(qb), "block").join(
        F.broadcast(qv), qid_col
    )
    pair_cos = make_pair_cosine_udf()
    scored = cand.select(
        qid_col,
        "vec_id",
        F.round(pair_cos(F.col("embedding"), F.col("qv")), SCORE_DECIMALS).alias(
            "score"
        ),
    ).distinct()
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def srp_index_append(
    spark,
    index_path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Incremental SRP-LSH maintenance (the ``ivf_index_append`` twin):
    bucket ONLY the new vectors with the planes the index's ready marker
    records and append them under their block directories — no rebuild,
    no touch of existing blocks' files. Probes see the new vectors
    immediately because block membership is a pure function of the
    vector; unlike IVF there are no centroids to drift, so append never
    degrades routing."""
    from vectolite_spark._pandas_udfs import make_srp_bucket_mapper

    from vectolite_spark.operators.layout import fan_out_small_scan

    params = index_params(spark, index_path)
    mapper = make_srp_bucket_mapper(params["n_tables"], params["n_planes"])
    vb = fan_out_small_scan(
        embeddings.select(F.col(id_col).alias("vec_id"), "embedding")
    ).mapInPandas(mapper, schema="vec_id long, embedding array<float>, block string")
    # cluster by block before partitionBy — one new file per touched
    # block dir per append instead of tasks x dirs slivers (see
    # build_srp_index; same small-files guard + explicit partition
    # count for per-file write parallelism, append flavour)
    vb.repartition(
        spark.sparkContext.defaultParallelism, F.col("block")
    ).write.mode("append").partitionBy("block").parquet(
        f"{index_path}/cells"
    )


def matryoshka_two_stage_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    coarse_dim: int = 16,
    n_candidates: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage Matryoshka (MRL) serving: a COARSE cosine pass over only
    the first ``coarse_dim`` dimensions nominates ``n_candidates`` ids
    per query, then the EXACT full-d cosine rescores just those
    candidates. The operational twin of ``matryoshka_recall_eval`` —
    that entry measures whether truncation is safe; this one actually
    serves with it (Kusupati et al. 2022, "Matryoshka Representation
    Learning").

    No reference counterpart (the reference brute-forces full-d always,
    vectolite.py:145-171) — north-star extension.

    Scale shape: stage 1 is the batch-topk plan (broadcast queries x
    embeddings scan) but moves coarse_dim/d of the flops, and at 100 TB
    it reads a SEPARATE skinny prefix projection (vec_id, first-16-dims
    — store it column-pruned or as its own table) so the scan is also
    coarse_dim/d of the bytes. The per-query candidate cut shuffles only
    (query_id, vec_id, score) skinny rows. Stage 2 broadcasts the tiny
    Q x n_candidates id list back onto the base scan — a semi-join
    filter, never a second full shuffle — and rescoring touches only
    Q x n_candidates full vectors. Determinism: both stages order by
    ROUND(score, 6) desc, vec_id asc, so the candidate SET (not just the
    final order) is engine-identical.
    """
    from pyspark.sql import Window

    from vectolite_spark.functions.vector import dot_product

    embs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    qs = queries.select(
        F.col("query_id"), F.col("query_vec").cast("array<double>").alias("qv")
    )

    def cos(a, b):
        da, db = dot_product(a, a), dot_product(b, b)
        return F.when((da == F.lit(0.0)) | (db == F.lit(0.0)), F.lit(0.0)).otherwise(
            dot_product(a, b) / (F.sqrt(da) * F.sqrt(db))
        )

    coarse = embs.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        F.round(
            cos(F.slice(F.col("v"), 1, coarse_dim), F.slice(F.col("qv"), 1, coarse_dim)),
            SCORE_DECIMALS,
        ).alias("cs"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    cand = (
        coarse.withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= n_candidates)
        .select("query_id", "vec_id")
    )
    rescored = (
        embs.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cos(F.col("v"), F.col("qv")), SCORE_DECIMALS).alias("score"),
        )
    )
    return (
        rescored.withColumn("rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
        ))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "score", F.col("rn").cast("long").alias("rn"))
    )


def embedding_outliers(
    embeddings: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 2.5,
) -> DataFrame:
    """Embedding-quality outliers: vectors unusually FAR from their own
    cluster's centroid, by the robust modified z-score over centroid
    distance (Iglewicz-Hoaglin, as ``windows.mad_outliers``) — mislabeled
    rows, corrupted encodes, and off-manifold points that degrade both
    retrieval training and IVF routing.

    Shape: exact-DECIMAL per-label centroids (``build_centroids``, tiny)
    broadcast back; the distance is a JVM ``zip_with`` + left-to-right
    ``aggregate`` fold (bit-identical to the oracle's list_dot_product,
    same parity contract as the flagship cosine), rounded 6 dp BEFORE the
    two exact per-label percentile passes so both engines take medians
    over identical values. No window over raw rows; at 100 TB swap the
    exact percentiles for approx_percentile exactly as mad_outliers
    documents. Returns flagged (vec_id, label, dist, m), m rounded 6 dp.
    """
    from vectolite_spark.operators.windows import mad_outliers

    cents = build_centroids(embeddings, label_col, emb_col).withColumnRenamed(
        "cluster", label_col
    )
    j = embeddings.join(F.broadcast(cents), label_col)
    diff = F.zip_with(
        F.col(emb_col),
        F.col("centroid"),
        lambda x, c: x.cast("double") - c,
    )
    dist = F.round(
        F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v * v)), 6
    )
    d = j.select(F.col(id_col), F.col(label_col), dist.alias("dist"))
    out = mad_outliers(d, label_col, "dist", id_col, threshold)
    return out.select(
        F.col(id_col).cast("long"),
        F.col(label_col).cast("int").alias(label_col),
        "dist",
        "m",
    ).orderBy(id_col)


def embedding_drift(
    embeddings: DataFrame,
    label_col: str = "label",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding A/B stability: the L2 distance between the
    centroids of the two deterministic id-parity halves of each label.
    Two random halves of a stationary, coherent label should have
    near-identical centroids; a large split distance means the label is
    heterogeneous or the encoder drifted mid-corpus — the monitor an
    embedding pipeline runs after every backfill or model swap.

    Shape: both halves' centroids come from ONE exact-DECIMAL
    posexplode aggregate keyed on (label, parity); the per-label result
    joins the two tiny centroid relations and folds the distance with
    the left-to-right JVM aggregate (oracle: list_dot_product on the
    element-wise difference). Output is one row per label at any scale.
    """
    par = (F.pmod(F.col(id_col), F.lit(2)) == 0).alias("even")
    halves = embeddings.select(
        F.col(label_col).alias("lab"), par, F.col(emb_col).alias("e")
    )
    exploded = halves.select("lab", "even", F.posexplode("e").alias("pos", "x"))
    dims = exploded.groupBy("lab", "even", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    cents = dims.groupBy("lab", "even").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid"),
        F.first("n").alias("n"),
    )
    a = cents.filter(F.col("even")).select(
        F.col("lab"), F.col("centroid").alias("ca"), F.col("n").alias("n_even")
    )
    b = cents.filter(~F.col("even")).select(
        F.col("lab"), F.col("centroid").alias("cb"), F.col("n").alias("n_odd")
    )
    diff = F.zip_with(F.col("ca"), F.col("cb"), lambda x, y: x - y)
    dist = F.round(
        F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v * v)), 6
    )
    return (
        a.join(b, "lab")
        .select(
            F.col("lab").cast("int").alias("label"),
            F.col("n_even").cast("long").alias("n_even"),
            F.col("n_odd").cast("long").alias("n_odd"),
            dist.alias("centroid_l2"),
        )
        .orderBy("label")
    )
