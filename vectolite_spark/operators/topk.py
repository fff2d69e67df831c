"""Exact brute-force cosine top-k search — the reference's flagship operator.

Reference: ``Vectolite.query`` (/root/reference/vectolite.py:118-174):
scan all rows -> per-row cosine -> full sort desc -> slice top_k, ties break
in ascending-id order (verified, SURVEY.md §2.3).

Spark-first plan:
- score each partition's rows with one NumPy matmul per Arrow batch
  (``_pandas_udfs.make_batch_topk_mapper``) and keep its local top-k;
- ``orderBy(score desc, id asc).limit(k)`` compiles to
  **TakeOrderedAndProject** over those survivors: a driver merge of
  k*P rows — strictly better than the reference's full O(N log N) sort and
  shuffle-free (no exchange; only the k-row result moves).
- document texts are attached AFTER the top-k, by pushing ``doc_id IN (ids)``
  into the documents parquet scan (row-group stat skipping). At 100 TB you
  never join the full documents table just to label k rows.

Determinism contract for the oracle: order on the ROUNDED score (6 dp) with
id ascending tie-break, so Spark and DuckDB select identical row sets even
when raw doubles differ in the last ulp.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectolite_spark.localframe import local_df

SCORE_DECIMALS = 6

# Ceiling on query working sets that serving paths pull to the driver
# (topk_batch, ann.srp_index_topk_batch). The small-Q collect is the
# right plan for online serving (the query set is a literal working set:
# it ships in a closure / broadcast and costs Q*d floats of driver
# memory), but at 100x scale a caller handing a million-row query TABLE
# to these paths would silently OOM the driver — fail loudly with a
# pointer to the distributed path instead.
MAX_DRIVER_QUERY_ROWS = 10_000


def collect_query_working_set(
    queries: DataFrame, cols: Sequence[str], max_rows: int, alternative: str
) -> list:
    """Collect the query working set with a size ceiling, in ONE job:
    ``limit(max_rows + 1).collect()`` never materializes more than the
    threshold on the driver even for an arbitrarily large input, and the
    +1 row is the overflow tripwire."""
    rows = queries.select(*cols).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"query working set exceeds {max_rows} rows — this path "
            "collects queries to the driver (small-Q online serving "
            f"shape); for large query tables use {alternative}, which "
            "keeps both sides distributed"
        )
    return rows


def require_unique_query_ids(qids: Sequence[int]) -> None:
    """Refuse a batch that repeats a query id. Batch probes key their
    per-query state (routing rows, distance tables, ranking windows) on
    the id, so two queries under one id would be merged into one top-k
    or scored against each other's state."""
    counts = Counter(qids)
    dups = sorted(q for q, c in counts.items() if c > 1)
    if dups:
        raise ValueError(
            f"duplicate query ids {dups[:5]} — query ids must be unique "
            "within one batch"
        )


def topk_ids(
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k (id, score), ties -> ascending id.

    Partition-local NumPy partial top-k via mapInPandas, then
    TakeOrderedAndProject over <= k*P survivors. The selection inside
    each batch uses the same total order (rounded score desc, id asc) as
    the final merge, so results are exact. (The column-expression scorer
    ``functions.vector.cosine_score`` is semantically identical but runs
    its higher-order-function lambdas interpreted, outside codegen.)
    """
    if k <= 0:
        raise ValueError("top_k must be positive")  # vectolite.py:131-138 guard
    from vectolite_spark._pandas_udfs import make_batch_topk_mapper

    mapper = make_batch_topk_mapper([0], [list(map(float, qvec))], k)
    scored = (
        embeddings.select(F.col(id_col).alias("vec_id"), "embedding")
        .mapInPandas(mapper, schema="query_id long, vec_id long, score double")
        .select(F.col("vec_id").alias(id_col), "score")
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def topk_batch(
    queries: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    id_col: str = "vec_id",
    max_driver_rows: int = MAX_DRIVER_QUERY_ROWS,
) -> DataFrame:
    """Many-query similarity join: top-k per query vector.

    Plan: the query set (small — it's a literal working set, not a table)
    ships inside the mapInPandas closure; each embeddings partition scores
    ALL queries with one (N x d) @ (d x Q) matmul and emits its local top-k
    per query — so only k*P*Q candidate rows reach the single shuffle on
    query_id for the final window merge, never the N*Q scored relation.
    For huge Q (query set is itself a table) the scale path is the LSH
    index (operators/ann.py), which prunes candidates before scoring.

    Returns (query_id, vec_id, score, rn) with rn in 1..k, ties -> id asc.
    """
    qrows = collect_query_working_set(
        queries,
        [qid_col, qvec_col],
        max_driver_rows,
        "operators.ann.topk_batch_lsh",
    )
    qids = [r[qid_col] for r in qrows]
    qv = [[float(x) for x in r[qvec_col]] for r in qrows]
    out = topk_batch_vecs(embeddings, qids, qv, k, id_col=id_col)
    if id_col != "vec_id":
        out = out.withColumnRenamed("vec_id", id_col)
    return out.withColumnRenamed("query_id", qid_col) if qid_col != "query_id" else out


def topk_batch_vecs(
    embeddings: DataFrame,
    qids: Sequence[int],
    qvecs: Sequence[Sequence[float]],
    k: int,
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """``topk_batch``'s core for a DRIVER-RESIDENT query working set:
    ids+vectors as plain lists, skipping the createDataFrame → collect
    round trip (the serving micro-batcher calls this on every dispatch
    cycle, where that round trip was pure latency). Query ids must be
    unique within the batch.

    ``payload_cols``: extra columns of ``embeddings`` (e.g. text,
    metadata) carried onto the winning rows INSIDE the mapper — result
    attributes need no post-hoc join, and only the <= k*P*Q candidate
    rows ever carry the payload bytes through the merge shuffle."""
    from pyspark.sql import Window

    from vectolite_spark._pandas_udfs import make_batch_topk_mapper

    require_unique_query_ids(qids)
    qv = [[float(x) for x in v] for v in qvecs]
    pcols = list(payload_cols)
    src = embeddings.select(F.col(id_col).alias("vec_id"), "embedding", *pcols)
    extra_ddl = "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in pcols
    )
    if src.rdd.getNumPartitions() == 1:
        # single-partition (cached working-set) serving regime: the
        # partition-local top-k IS the global top-k — the mapper emits the
        # final ranking and the merge shuffle + window disappear entirely
        mapper = make_batch_topk_mapper(
            list(qids), qv, k, rank_mode=True, payload_cols=pcols
        )
        return src.mapInPandas(
            mapper,
            schema="query_id long, vec_id long, score double, rn long"
            + extra_ddl,
        )
    mapper = make_batch_topk_mapper(list(qids), qv, k, payload_cols=pcols)
    partial = src.mapInPandas(
        mapper, schema="query_id long, vec_id long, score double" + extra_ddl
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return partial.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def topk_search(
    documents: DataFrame,
    embeddings: DataFrame,
    qvec: Sequence[float],
    k: int = 10,
    doc_filter: Column | None = None,
) -> DataFrame:
    """Flagship query: cosine top-k with document payload attached.

    ``doc_filter`` (e.g. ``col("lang") == "en"``) implements metadata-filtered
    search: the predicate is applied BEFORE top-k via a semi-join on the
    filtered doc ids, so the heap only sees eligible rows.

    Returns (doc_id, score, lang, source, text) ordered score desc, id asc.
    """
    embs = embeddings
    docs = documents
    if doc_filter is not None:
        eligible = docs.filter(doc_filter).select(F.col("doc_id").alias("vec_id"))
        # documents is the small(er) side after the predicate at parity scale;
        # at 100 TB both are big -> this is a shuffle-free broadcast when the
        # predicate is selective, else AQE picks sort-merge on the join key.
        embs = embs.join(F.broadcast(eligible), "vec_id")

    top = topk_ids(embs, qvec, k)
    # k is tiny: pull the ids to the driver and push them into the documents
    # scan as an IN-filter (parquet row-group skipping), then broadcast-join
    # the k scored rows. No full-table join for a k-row result.
    top_rows = top.collect()
    ids = [r["vec_id"] for r in top_rows]
    spark = documents.sparkSession
    scored = local_df(
        spark,
        [(r["vec_id"], float(r["score"])) for r in top_rows],
        "doc_id long, score double",
    )
    payload = docs.filter(F.col("doc_id").isin(ids)).select(
        "doc_id", "lang", "source", "text"
    )
    return (
        payload.join(F.broadcast(scored), "doc_id")
        .select("doc_id", "score", "lang", "source", "text")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
