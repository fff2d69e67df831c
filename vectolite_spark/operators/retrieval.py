"""Lexical retrieval + hybrid fusion: BM25 scoring and reciprocal-rank
fusion of a lexical list with a vector (cosine) list — the standard
"hybrid search" every production vector store pairs with embeddings
(the reference engine is vector-only; this is the SURVEY §2.9 extension
that makes it a complete search engine).

Scale shape: scan-side BM25 over 100 TB is two narrow passes and zero
wide shuffles: per-doc tf for each query term is a codegen'd array
filter (the term set is tiny and literal), corpus stats (N, avgdl,
per-term df) collapse to ONE broadcast aggregation row, and scoring is
a projection feeding TakeOrdered. Nothing Python-side anywhere. For a
query workload, the persisted inverted index below amortizes the scans
away entirely.

Determinism contract with the DuckDB oracle: tf/dl/df are exact
integers; avgdl is an exact DECIMAL sum over a COUNT; idf uses ln()
(sub-ulp identical across engines in practice — same class as
tfidf_top_terms); final scores round 6dp with doc_id tie-breaks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectolite_spark.localframe import local_df
from vectolite_spark.operators.dedup import norm_tokens
from vectolite_spark.operators.index_sync import (
    clear_index_ready,
    index_params,
    mark_index_ready,
)
from vectolite_spark.operators.topk import require_unique_query_ids
from vectolite_spark.session import phase

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, score) for every doc matching >= 1 query term.

    score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)   (Robertson/Sparck Jones,
    the Lucene variant that keeps idf positive).

    Shape: the query's term set is tiny and known up front, so per-doc tf
    for EACH term is a codegen'd array ``filter``+``size`` on the token
    array — no explode, no (doc_id, term) shuffle. One global aggregation
    produces n_docs/avgdl/df_t together as a single broadcast row; the
    final pass re-scans, keeps docs with >= 1 hit, and projects the score
    expression. Two narrow corpus scans, zero wide shuffles (the r3
    explode/groupBy formulation paid four tokenization passes and three
    shuffles for the same answer).
    """
    terms = list(dict.fromkeys(terms))

    def _is_term(term):
        # one-arg lambda only: F.filter treats a 2-arg lambda as (x, idx)
        lit = F.lit(term)
        return lambda x: x == lit

    per_doc = docs.select(
        F.col(id_col), norm_tokens(text_col).alias("t")
    ).select(
        id_col,
        F.size("t").alias("dl"),
        *[
            F.size(F.filter("t", _is_term(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    any_hit = None
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1
        )
        norm = tf + BM25_K1 * (
            (1 - BM25_B) + BM25_B * F.col("dl") / F.col("avgdl")
        )
        contribs.append(
            F.when(tf > 0, idf * tf * (BM25_K1 + 1) / norm).otherwise(0.0)
        )
        hit = tf > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return (
        per_doc.filter(any_hit)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(total, 6).alias("score"))
    )


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of two ranked
    lists: rrf(d) = sum over lists of 1/(k + rank_d). Inputs are
    (id, rank) relations with ranks 1..n; a doc absent from a list simply
    contributes nothing. Both lists are top-N working sets by contract
    (ranks only mean anything for small N), so the join is a broadcast —
    fusion never touches the corpus."""
    a = lex.select(F.col(id_col), F.col("rank").alias("rank_lex"))
    b = vec.select(F.col(id_col), F.col("rank").alias("rank_vec"))
    contrib_a = F.coalesce(1.0 / (k + F.col("rank_lex")), F.lit(0.0))
    contrib_b = F.coalesce(1.0 / (k + F.col("rank_vec")), F.lit(0.0))
    return a.join(b, id_col, "full_outer").select(
        id_col,
        F.round(contrib_a + contrib_b, 6).alias("rrf"),
        F.col("rank_lex"),
        F.col("rank_vec"),
    )


def rerank(
    candidates: DataFrame,
    docs: DataFrame,
    query: str,
    provider: str = "stub",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-encoder reranking — the third retrieval stage (retrieve ->
    fuse -> rerank). ``candidates`` is a small ranked working set (top-N
    ids from ``rrf_fuse``); the document payload attaches by broadcasting
    the candidate list against the corpus scan (never the reverse — at
    100 TB you stream the corpus past 10 ids, exactly the flagship
    payload-attach shape), then one Arrow-batched scoring pass.
    Returns (id, rerank_score) ordered by score desc, id asc."""
    from vectolite_spark._pandas_udfs import make_rerank_udf

    udf = make_rerank_udf(query, provider=provider)
    cand_ids = candidates.select(id_col)
    return (
        docs.join(F.broadcast(cand_ids), id_col)
        .select(
            F.col(id_col),
            F.round(udf(F.col(text_col)), 6).alias("rerank_score"),
        )
        .orderBy(F.desc("rerank_score"), F.asc(id_col))
    )


# -- persisted inverted index (build/probe split for lexical search) --------


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of the bucket expression below: md5-prefix of the
    term mod n_buckets. Both sides MUST agree — the probe prunes to the
    buckets of the query's terms."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(term_col, n_buckets: int):
    return F.pmod(
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def build_bm25_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 32,
) -> None:
    """Build and PERSIST the inverted index for BM25 — the lexical
    analogue of ``ann.build_ivf_index``'s build/probe split. Layout (v2):

        {path}/postings   (term, doc_id, tf, dl) partitioned by
                          bucket = md5(term) % n_buckets
        {path}/termstats  vocabulary-sized (term, df)
        {path}/doclen     (doc_id, dl) — replay guard + exact avgdl
        {path}/stats      one row: n_docs, total_dl (integer; avgdl is
                          derived at handle construction)

    ``n_buckets`` is recorded in the ready marker
    (``index_sync.index_params``), where probes and appends read it.

    ``bm25_scores`` re-scans and re-tokenizes the corpus per query — right
    when term stats ride an existing scan, wrong amortization for a query
    workload. Here tokenization/tf/df/dl are paid ONCE; a query reads only
    the probed term-buckets (partition pruning), so serving cost scales
    with posting-list size, not corpus size.

    v2 layout (r8): ``df`` lives in its own vocabulary-sized
    ``termstats`` table instead of riding denormalized on every posting
    row — the change that makes EXACT incremental append possible (an
    appended doc raises df for its terms; with df on posting rows every
    old row of those terms would need a rewrite, with a separate table
    the merge rewrites only the vocabulary-bounded small side — the
    same economics as the trigram index's stats). ``doclen`` gives the
    replay guard and the exact avgdl recompute; ``stats`` keeps integer
    ``total_dl`` so avgdl is derived identically to the scan path's
    DECIMAL-sum formula at any append depth. Probes broadcast-join the
    query's handful of termstats rows — no second big-table lookup."""
    # One tokenize pass feeds postings, one feeds doclen; termstats and
    # stats derive from the WRITTEN narrow tables instead of
    # re-tokenizing the corpus (the old shape tokenized four times and
    # shuffle-joined the token-level tf relation back onto dl — dl is
    # functionally dependent on doc_id, so grouping by (doc_id, term,
    # dl) yields the identical rows with the join gone; at corpus scale
    # that join was a second full exchange of the biggest relation in
    # the build).
    from vectolite_spark.operators.layout import fan_out_small_scan

    spark = docs.sparkSession
    clear_index_ready(spark, index_path)
    src = fan_out_small_scan(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    toks = src.select("doc_id", norm_tokens(text_col).alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    tf = (
        toks.select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # The postings pass and the doclen pass are the build's two corpus
    # tokenizations, writing disjoint directories — overlapped as
    # concurrent jobs (guide §2.6) so the second pass back-fills the
    # first pass's straggler tail instead of waiting for it. termstats
    # and stats then derive from the two written tables, also disjoint
    # and also overlapped; the ready marker follows them all.
    from vectolite_spark.parallel import run_jobs

    def _write_postings():
        with phase("bm25 build: postings write"):
            (
                tf.withColumn(
                    "bucket", _term_bucket_col(F.col("term"), n_buckets)
                )
                .select("bucket", "term", "doc_id", "tf", "dl")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{index_path}/postings")
            )

    def _write_doclen():
        with phase("bm25 build: doclen write"):
            dl.write.mode("overwrite").parquet(f"{index_path}/doclen")

    run_jobs(_write_postings, _write_doclen)

    def _write_termstats():
        # df = posting rows per term — counted off the written postings
        # (column-pruned term scan), not a third tokenize of the corpus
        with phase("bm25 build: termstats write"):
            (
                spark.read.parquet(f"{index_path}/postings")
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{index_path}/termstats")
            )

    def _write_stats():
        with phase("bm25 build: stats write"):
            (
                spark.read.parquet(f"{index_path}/doclen")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(F.sum("dl"), F.lit(0))
                    .cast("long")
                    .alias("total_dl"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{index_path}/stats")
            )

    run_jobs(_write_termstats, _write_stats)
    mark_index_ready(
        spark, index_path, {"family": "bm25", "n_buckets": int(n_buckets)}
    )


def append_bm25_index(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental BM25 maintenance (r8): fold NEW documents into an
    existing v2 index without rebuilding — delta postings append into
    the existing bucket dirs, ``doclen`` appends the new doc lengths,
    the vocabulary-sized ``termstats`` table merges old+delta df counts
    and rewrites whole (it is the small side by construction — the
    exact reason v2 moved df OFF the posting rows), and ``stats``
    updates n_docs/total_dl by exact integer arithmetic, so avgdl —
    and therefore every score — equals a from-scratch rebuild's
    bit-for-bit.

    Caller contract mirrors ``append_trigram_index``: ``new_docs`` must
    be genuinely new ids, ENFORCED by an anti-join of the delta's ids
    against ``doclen`` (a replayed delta raises instead of
    double-counting df/total_dl). The narrower crash window — postings
    written, died before doclen — is owned by the streaming sink's
    batch marker, same as the trigram path."""
    spark = new_docs.sparkSession
    n_buckets = index_params(spark, index_path)["n_buckets"]
    srow = spark.read.parquet(f"{index_path}/stats").first()
    overlap = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(
            spark.read.parquet(f"{index_path}/doclen").select("doc_id"),
            "doc_id",
        )
        .limit(5)
        .collect()
    )
    if overlap:
        ids = sorted(r["doc_id"] for r in overlap)
        raise ValueError(
            f"append_bm25_index: ids already indexed (e.g. {ids}) — "
            "re-appending would double-count df/total_dl; dedupe the "
            "delta or rebuild the index"
        )
    from vectolite_spark.operators.layout import fan_out_small_scan

    toks = (
        fan_out_small_scan(
            new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        )
        .select("doc_id", norm_tokens(text_col).alias("t"))
        .cache()
    )
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    # dl carried through the groupBy (functionally dependent on doc_id)
    # — same join-free shape as build_bm25_index
    tf = (
        toks.select(
            "doc_id", F.size("t").alias("dl"), F.explode("t").alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    delta_tot = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
    ).first()
    # ^ the delta_tot action above also materialized the cached delta,
    # so the three jobs below read it without re-tokenizing.
    #
    # Postings append, doclen append and the termstats merge (written
    # to a TMP dir — invisible until the rename below) touch disjoint
    # state: overlapped as concurrent jobs (guide §2.6). The
    # termstats swap and the stats write stay strictly after the join,
    # so nothing becomes VISIBLE in a different order than the old
    # sequential code — the documented crash windows are unchanged.
    from vectolite_spark.parallel import run_jobs
    from vectolite_spark.store import _HadoopFS

    def _append_postings():
        with phase("bm25 append: postings append"):
            (
                tf.withColumn(
                    "bucket", _term_bucket_col(F.col("term"), n_buckets)
                )
                .select("bucket", "term", "doc_id", "tf", "dl")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(f"{index_path}/postings")
            )

    def _append_doclen():
        with phase("bm25 append: doclen append"):
            dl.write.mode("append").parquet(f"{index_path}/doclen")

    # overwrite-while-reading hazard (Spark cannot overwrite a dir its
    # own plan is reading): write the DISTRIBUTED merge to a tmp dir,
    # then swap via two metadata-only FS ops — a web-scale vocabulary
    # (1e8+ terms of typos/ids/urls) is not driver-sized, so collecting
    # it was the wrong shape. The delete->rename crash window leaves a
    # missing (not corrupt) termstats dir, owned by the same batch
    # marker as the postings-written/doclen-missing window above.
    merged = (
        spark.read.parquet(f"{index_path}/termstats")
        .unionByName(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    tmp = f"{index_path}/termstats_tmp"

    def _write_termstats_tmp():
        with phase("bm25 append: termstats merge"):
            merged.coalesce(1).write.mode("overwrite").parquet(tmp)

    run_jobs(_append_postings, _append_doclen, _write_termstats_tmp)
    toks.unpersist()
    fs = _HadoopFS(spark, index_path)
    fs.delete(f"{index_path}/termstats")
    fs.rename(tmp, f"{index_path}/termstats")
    local_df(
        spark,
        [
            (
                int(srow["n_docs"]) + int(delta_tot["n"]),
                int(srow["total_dl"]) + int(delta_tot["s"]),
            )
        ],
        "n_docs bigint, total_dl bigint",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/stats")


class BM25Index:
    """Handle over a persisted BM25 inverted index. Query = probe the
    buckets of the query's terms (partition pruning) -> score posting
    rows with the SAME formula as ``bm25_scores`` -> one skinny
    (doc_id, partial-score) aggregation. The corpus itself is never
    touched at query time."""

    def __init__(self, spark, index_path: str):
        self.spark = spark
        self.path = index_path
        row = spark.read.parquet(f"{index_path}/stats").first()
        self.n_docs = int(row["n_docs"])
        # avgdl derived from the integer total exactly as the scan path's
        # DECIMAL-sum formula does (dl sums are exact in a long, and
        # long -> double -> divide is the same IEEE sequence) — so
        # index == scan holds bit-for-bit at ANY append depth
        self.total_dl = int(row["total_dl"])
        self.avgdl = (
            float(self.total_dl) / self.n_docs if self.n_docs else 0.0
        )
        self.n_buckets = index_params(spark, index_path)["n_buckets"]
        self._df_cache: dict | None = None

    def _dfs(self) -> dict:
        """Per-term document frequencies, memoized driver-side for the
        handle's lifetime — termstats is vocabulary-bounded (the same
        small-side argument that lets appends merge-rewrite it whole),
        so the first probe pays one tiny read and every later probe
        resolves df as literals with ZERO extra scan or join stage.
        Like n_docs/avgdl, the memo pins the index state at handle
        creation: construct a fresh handle after an append."""
        if self._df_cache is None:
            self._df_cache = {
                r["term"]: int(r["df"])
                for r in self.spark.read.parquet(
                    f"{self.path}/termstats"
                ).collect()
            }
        return self._df_cache

    def _probe(self, terms: Sequence[str]) -> DataFrame:
        """Partition-pruned posting rows for ``terms``, with df attached
        as a literal term->df map from the memoized termstats (no second
        table in the plan — the probe stays one pruned scan)."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        p = (
            self.spark.read.parquet(f"{self.path}/postings")
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(list(terms)))
        )
        dfs = self._dfs()
        pairs = []
        for t in terms:
            if t in dfs:
                pairs += [F.lit(t), F.lit(dfs[t])]
        if not pairs:
            # no probed term exists in the vocabulary: no posting rows
            # will survive the filter either — keep the schema stable
            return p.withColumn("df", F.lit(0).cast("long"))
        return p.withColumn(
            "df", F.element_at(F.create_map(*pairs), F.col("term"))
        )

    def scores(self, terms: Sequence[str]) -> DataFrame:
        terms = list(terms)
        p = self._probe(terms)
        idf = F.log(
            (F.lit(self.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        norm = F.col("tf") + BM25_K1 * (
            (1 - BM25_B) + BM25_B * F.col("dl") / F.lit(self.avgdl)
        )
        per_term = idf * F.col("tf") * (BM25_K1 + 1) / norm
        return p.groupBy("doc_id").agg(
            F.round(F.sum(per_term), 6).alias("score")
        )

    def topk(self, terms: Sequence[str], k: int = 10) -> DataFrame:
        return (
            self.scores(terms)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def batch_topk(
        self, queries: Sequence[tuple[int, Sequence[str]]], k: int = 10
    ) -> DataFrame:
        """Serve MANY lexical queries from ONE index probe — the lexical
        analogue of ``topk.topk_batch``. All queries' terms union into a
        single partition-pruned postings read (buckets of the union, then
        the term filter); a broadcast (query_id, term) relation fans each
        posting row out to exactly the queries that asked for its term;
        one skinny (query_id, doc_id) aggregation and a per-query window
        produce every query's top-k. Probe cost scales with the union's
        posting lists, not with Q x corpus — and the corpus itself is
        never touched. Returns (query_id, doc_id, score, rn)."""
        from pyspark.sql import Window

        require_unique_query_ids([qid for qid, _ in queries])
        qt = [
            (int(qid), t)
            for qid, terms in queries
            for t in dict.fromkeys(terms)
        ]
        all_terms = sorted({t for _, t in qt})
        p = self._probe(all_terms)
        qt_df = local_df(self.spark, qt, "query_id long, term string")
        idf = F.log(
            (F.lit(self.n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        norm = F.col("tf") + BM25_K1 * (
            (1 - BM25_B) + BM25_B * F.col("dl") / F.lit(self.avgdl)
        )
        per_term = idf * F.col("tf") * (BM25_K1 + 1) / norm
        scored = (
            p.join(F.broadcast(qt_df), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.round(F.sum(per_term), 6).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return scored.withColumn(
            "rn", F.row_number().over(w).cast("long")
        ).filter(F.col("rn") <= k)


def mmr_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_candidates: int = 50,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
) -> DataFrame:
    """MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998)
    diversity re-ranking: exact cosine nominates ``n_candidates`` per
    query, then a greedy pass picks ``k`` results maximizing
    ``lam*relevance - (1-lam)*max_similarity_to_already_picked`` — the
    classic cure for near-duplicate-saturated top-k (a dedup'd CORPUS
    can still serve 10 copies of the same answer; MMR dedups the RESULT
    SET). No reference counterpart — north-star extension.

    Scale shape: candidate generation is the proven batch-topk plan
    (partition-local heaps, one skinny query_id shuffle); the greedy
    selection is inherently sequential PER QUERY but each group is only
    ``n_candidates`` rows, so it runs as one Arrow-batched
    applyInPandas task per query — parallel across queries, O(C^2)
    flops per query, never a corpus-wide pass. Determinism: rounded
    scores + vec_id tie-breaks at BOTH the candidate cut and every
    greedy pick; see ``make_mmr_selector`` for the 1-lam IEEE note.

    Returns (query_id, vec_id, rel, rn) with rn in 1..k (pick order).
    """
    from vectolite_spark._pandas_udfs import make_mmr_selector
    from vectolite_spark.operators.topk import topk_batch

    cand = topk_batch(queries, embeddings, k=n_candidates, id_col=id_col).select(
        "query_id", "vec_id", "score"
    )
    withv = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).join(F.broadcast(cand), "vec_id")
    return (
        withv.groupBy("query_id")
        .applyInPandas(
            make_mmr_selector(lam, k),
            schema="query_id long, vec_id long, rel double, rn long",
        )
        .orderBy("query_id", "rn")
    )


def passage_highlight(
    docs: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    width: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snippet generation for the BM25 winners: inside each top-``k``
    document, find the ``width``-token window containing the MOST query
    -term occurrences (ties -> smallest start) and emit it as the
    highlight — what a search UI shows under each hit. No reference
    counterpart (the reference returns raw doc text) — north-star
    serving extension.

    Scale shape: ranking prunes first (BM25's scan-side term filter),
    so the O(n_windows * n_matches) window sweep — pure codegen'd array
    expressions, no UDF — runs on exactly ``k`` surviving rows, never
    corpus-wide; the winner list rides a broadcast join back onto the
    pruned scan. Determinism: match positions and window counts are
    integers (no float ties), first-max window via array_position.

    Returns (doc_id, score, best_start, n_hits, snippet).
    """
    top = (
        bm25_scores(docs, terms)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    toks = norm_tokens(text_col)
    term_lits = F.array(*[F.lit(t) for t in terms])
    mpos = F.filter(
        F.transform(
            toks,
            lambda x, i: F.when(F.array_contains(term_lits, x), i).otherwise(
                F.lit(-1)
            ),
        ),
        lambda p: p >= 0,
    )
    nwin = F.greatest(F.lit(1), F.size(toks) - width + 1)
    counts = F.transform(
        F.sequence(F.lit(0), nwin - 1),
        lambda s: F.size(F.filter(mpos, lambda p: (p >= s) & (p < s + width))),
    )
    best = F.array_max(counts)
    best_start = (F.array_position(counts, best) - 1).cast("long")
    return (
        docs.join(F.broadcast(top), id_col)
        .select(
            id_col,
            "score",
            best_start.alias("best_start"),
            best.cast("long").alias("n_hits"),
            F.concat_ws(" ", F.slice(toks, best_start + 1, width)).alias(
                "snippet"
            ),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
    )


# --------------------------------------------------------------------------
# Trigram substring-search index (pg_trgm / ClickHouse ngram-skip style)
# --------------------------------------------------------------------------

TRGM_N = 3


def extract_trigrams(s: str) -> list[str]:
    """The DISTINCT character 3-grams of ``s`` lowercased, in
    first-occurrence order: the one definition the index build (through
    ``_pandas_udfs.make_trigram_udf``) and the probe share — probe
    pruning sends only these trigrams' buckets to the scan."""
    t = s.lower()
    out: list[str] = []
    seen = set()
    for i in range(len(t) - TRGM_N + 1):
        g = t[i : i + TRGM_N]
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


def build_trigram_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Build and PERSIST a trigram posting index for case-insensitive
    substring search — the pg_trgm idea re-expressed as a partitioned
    parquet layout (no reference counterpart; the reference has no text
    search at all beyond vector similarity). Layout:

        {path}/postings  (trigram, doc_id) — one row per distinct
                         (trigram, doc) pair, partitioned by
                         bucket = md5(trigram) % n_buckets
        {path}/stats     (trigram, df, bucket) — trigram vocabulary with
                         document frequencies; bounded by the alphabet
                         (~|charset|^3), tiny even at 100 TB corpus scale

    Scale shape: the corpus is tokenized ONCE — the postings write is
    the only pass over the documents (distinct trigrams per doc are
    computed INSIDE the row by the Arrow-batched extraction UDF before
    the explode, so the shuffle carries at most |charset|^3 * n_docs
    rows and skew on common trigrams is bounded by the per-doc dedup;
    see ``_pandas_udfs.make_trigram_udf`` for why this is not a
    Catalyst array-expression form — measured ~10x); ``stats`` is
    then derived by re-reading just the narrow trigram column of what
    was written (columnar scan of the index, not the corpus — measured
    ~2x build win over tokenizing twice). The ready marker
    (``index_sync.mark_index_ready``), which records ``n_buckets`` for
    probes and appends, lands after every artifact, so a crash
    mid-build always rebuilds. A probe reads only the buckets
    of the pattern's trigrams — partition pruning turns a 100 TB
    corpus problem into a posting-list problem."""
    from vectolite_spark._pandas_udfs import make_trigram_udf
    from vectolite_spark.operators.layout import fan_out_small_scan

    spark = docs.sparkSession
    clear_index_ready(spark, index_path)
    # column-prune BEFORE the fan-out decision so a tiny corpus ships
    # only (id, text) through the (tiny) repartition; at scale the scan
    # already has >= parallelism splits and src IS narrow (no shuffle)
    narrow = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    src = fan_out_small_scan(narrow)
    tri = src.select(
        "doc_id",
        make_trigram_udf()(F.col(text_col)).alias("t"),
    ).select("doc_id", F.explode("t").alias("trigram"))
    post = tri.withColumn(
        "bucket", _term_bucket_col(F.col("trigram"), n_buckets)
    ).select("bucket", "trigram", "doc_id")
    if src is not narrow:
        # tiny-input regime only: re-cluster the fanned postings by
        # bucket so the write keeps one file per bucket dir (the layout
        # a single-task write produced); without this each of the
        # fan-out tasks writes a sliver into every bucket (guide §6
        # small-files). Never reached at scale (src is narrow there).
        post = post.repartition(n_buckets, "bucket")
    with phase("trgm build: postings write"):
        (
            post.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{index_path}/postings")
        )

    # doclen and stats both derive from the written postings and write
    # to disjoint directories — independent jobs, overlapped from driver
    # threads (guide §2.6) instead of paying sequential job launches;
    # the ready marker, which records n_buckets, follows them both.
    from vectolite_spark.parallel import run_jobs

    def _write_doclen():
        # doclen (per-doc distinct-trigram count) powers
        # similarity_topk's Jaccard denominator
        with phase("trgm build: doclen write"):
            (
                spark.read.parquet(f"{index_path}/postings")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_tri"))
                .write.mode("overwrite")
                .parquet(f"{index_path}/doclen")
            )

    def _write_stats():
        with phase("trgm build: stats write"):
            (
                spark.read.parquet(f"{index_path}/postings")
                .groupBy("trigram")
                .agg(F.count(F.lit(1)).alias("df"))
                .withColumn(
                    "bucket", _term_bucket_col(F.col("trigram"), n_buckets)
                )
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{index_path}/stats")
            )

    run_jobs(_write_doclen, _write_stats)
    mark_index_ready(
        spark, index_path, {"family": "trigram", "n_buckets": int(n_buckets)}
    )


def append_trigram_index(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental maintenance: fold NEW documents into an existing
    trigram index without rebuilding it — the lifecycle piece that
    makes the index survivable on a growing 100 TB corpus (a rebuild
    re-reads everything; this reads only the delta plus the tiny stats
    table). Postings for the new docs APPEND into the same
    bucket-partitioned layout (parquet append creates new files inside
    the existing partition dirs — old files untouched, so a concurrent
    probe sees a consistent prefix); the vocabulary-sized stats table
    is re-derived by merging old df counts with the delta's and
    rewritten whole (it is the small side by construction).

    Caller contract: ``new_docs`` must be genuinely new ids — postings
    are (trigram, doc_id) facts, so re-appending an existing doc would
    double-count it in ``df`` and duplicate posting rows. The contract
    is ENFORCED below (anti-join of the delta's ids against the
    existing doclen): a violation — or a partially-failed earlier
    append that did reach doclen — raises instead of silently
    corrupting df/n_tri statistics (ADVICE r5). The guard joins the
    tiny delta id set against doclen's single narrow column; it cannot
    catch the narrower crash window where a prior append wrote postings
    but died before doclen — that window is owned by the streaming
    sink's batch marker."""
    spark = new_docs.sparkSession
    n_buckets = index_params(spark, index_path)["n_buckets"]
    from vectolite_spark._pandas_udfs import make_trigram_udf

    overlap = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(spark.read.parquet(f"{index_path}/doclen").select("doc_id"), "doc_id")
        .limit(5)
        .collect()
    )
    if overlap:
        ids = sorted(r["doc_id"] for r in overlap)
        raise ValueError(
            f"append_trigram_index: ids already indexed (e.g. {ids}) — "
            "re-appending would double-count df/n_tri; dedupe the delta "
            "or rebuild the index"
        )

    from vectolite_spark.operators.layout import fan_out_small_scan

    delta_narrow = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col)
    )
    delta_src = fan_out_small_scan(delta_narrow)
    tri = (
        delta_src.select(
            "doc_id",
            make_trigram_udf()(F.col(text_col)).alias("t"),
        )
        .select("doc_id", F.explode("t").alias("trigram"))
        # three actions consume the delta (postings append, doclen
        # append, stats merge) — cache so the batch source is read and
        # tokenized once, not three times
        .cache()
    )
    delta_stats = tri.groupBy("trigram").agg(F.count(F.lit(1)).alias("df"))
    old_stats = spark.read.parquet(f"{index_path}/stats").select(
        "trigram", "df"
    )
    merged = (
        old_stats.unionByName(delta_stats)
        .groupBy("trigram")
        .agg(F.sum("df").alias("df"))
        .withColumn("bucket", _term_bucket_col(F.col("trigram"), n_buckets))
    )
    # postings first: if the stats rewrite then fails, probes still
    # return correct results (stats only steer rarest-first selection,
    # stale df never loses a match)
    delta_post = tri.withColumn(
        "bucket", _term_bucket_col(F.col("trigram"), n_buckets)
    ).select("bucket", "trigram", "doc_id")
    if delta_src is not delta_narrow:
        # fanned tiny delta: keep one new file per touched bucket dir
        # per append (see build_trigram_index — same small-files guard)
        delta_post = delta_post.repartition(n_buckets, "bucket")

    # The postings append, the doclen append and the stats-merge collect
    # all consume the cached delta and touch disjoint state — overlapped
    # as concurrent jobs (guide §2.6; block-level cache locking means
    # the delta is still tokenized exactly once). Only the stats WRITE
    # stays strictly after the join, preserving the existing crash
    # ordering (stats never lands before postings/doclen — a stats
    # failure leaves a correct, stale-df index). Pre-materializing the
    # cache before the pool was MEASURED AND REJECTED (r13 interleaved
    # A/B ×3: medians 2.98 vs 3.07 s on trgm_incremental_build, 6.29 vs
    # 6.42 s on the capstone — the extra serial pass buys nothing the
    # per-block locks don't already provide).
    from vectolite_spark.parallel import run_jobs

    def _append_postings():
        with phase("trgm append: postings append"):
            (
                delta_post.write.mode("append")
                .partitionBy("bucket")
                .parquet(f"{index_path}/postings")
            )

    def _append_doclen():
        # delta doclen rows are for NEW doc ids only (enforced above),
        # so a plain append is a disjoint union — no merge needed.
        # countDistinct (== count today: the trigram UDF emits distinct
        # trigrams per doc) keeps |D| correct even if a future path
        # feeds duplicate (doc_id, trigram) rows through here
        with phase("trgm append: doclen append"):
            (
                tri.groupBy("doc_id")
                .agg(F.countDistinct("trigram").alias("n_tri"))
                .write.mode("append")
                .parquet(f"{index_path}/doclen")
            )

    def _collect_stats():
        # overwrite-while-reading hazard: materialize the merged stats
        # on the driver first (vocabulary-bounded — at most |charset|^3
        # rows, tiny by construction), then write fresh after the join
        with phase("trgm append: stats merge collect"):
            return merged.collect()

    _, _, rows = run_jobs(_append_postings, _append_doclen, _collect_stats)
    tri.unpersist()
    with phase("trgm append: stats write"):
        local_df(
            spark, rows, "trigram string, df bigint, bucket bigint"
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/stats")


def compact_trigram_index(spark, index_path: str) -> int:
    """Rewrite the postings layout into one file per bucket partition —
    the small-files cure after many ``append_trigram_index`` batches
    (each append adds a file per touched partition; a year of hourly
    ingest is ~9k files per bucket without this). Stage-and-swap through
    a sibling dir with Hadoop-FS rename so a concurrent probe sees
    either the old or the new layout, never a half-rewrite; same
    pattern as ``store.compact``/snapshot commits. Returns the posting
    row count."""
    from vectolite_spark.store import _HadoopFS

    src = f"{index_path}/postings"
    tmp = f"{index_path}/postings_compacting"
    old = f"{index_path}/postings_old"
    postings = spark.read.parquet(src)
    n = postings.count()
    (
        postings.repartition("bucket")
        .sortWithinPartitions("trigram", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    fs = _HadoopFS(spark, index_path)
    fs.delete(old) if fs.exists(old) else None
    if not fs.rename(src, old):
        raise OSError(f"compact: could not stage {src} aside")
    if not fs.rename(tmp, src):
        fs.rename(old, src)  # roll back — old layout stays live
        raise OSError(f"compact: could not swap {tmp} into place")
    # postings_old is NOT deleted here: an in-flight probe that listed
    # files pre-swap may still be reading them through the rename (a
    # rename moves, a delete destroys). The stale dir is reclaimed at
    # the START of the next compaction (the exists/delete above) — a
    # maintenance-cadence grace window.
    return int(n)


class TrigramIndex:
    """Handle over a persisted trigram index. A substring query probes
    the index for CANDIDATE docs (superset of true matches), then
    verifies only the candidates against the corpus — so ``contains()``
    never runs over the full 100 TB, just the rarest posting lists.

    Probe strategy: look up the pattern's trigrams in the tiny stats
    table (one pruned read, driver-collected — vocabulary-bounded), keep
    the ``max_probe`` RAREST trigrams (lowest df; any subset of the
    pattern's trigrams still yields a superset of matches), and
    intersect just those posting lists with a count-match aggregation.
    Probing the rarest trigrams minimizes both the postings read and the
    candidate count that verification must touch — same rarest-first
    logic as dedup's prefix-filter blocking (operators/dedup.py)."""

    def __init__(self, spark, index_path: str):
        self.spark = spark
        self._path = index_path
        self._stats = spark.read.parquet(f"{index_path}/stats")
        self._postings = spark.read.parquet(f"{index_path}/postings")
        self._nb = index_params(spark, index_path)["n_buckets"]

    def _probe_trigrams(
        self, pattern: str, max_probe: int
    ) -> list[tuple[str, int]]:
        tris = extract_trigrams(pattern)
        if not tris:
            raise ValueError(
                f"substring pattern needs >= {TRGM_N} chars for the "
                f"trigram index; got {pattern!r} — use a full scan"
            )
        return self._probe_from_trigrams(tris, max_probe)

    def _probe_from_trigrams(
        self, tris: list[str], max_probe: int
    ) -> list[tuple[str, int]]:
        rows = (
            self._stats.filter(F.col("trigram").isin(tris))
            .select("trigram", "df", "bucket")
            .collect()
        )
        by_tri = {r["trigram"]: r for r in rows}
        # a pattern trigram absent from the vocabulary => zero matches;
        # represent it as df=0 so it sorts first and short-circuits
        ranked = sorted(
            tris, key=lambda t: (by_tri[t]["df"] if t in by_tri else 0, t)
        )
        out = []
        for t in ranked[:max_probe]:
            if t not in by_tri:
                return []  # trigram never seen -> no doc can match
            r = by_tri[t]
            out.append((t, int(r["bucket"])))
        return out

    def candidates(self, pattern: str, max_probe: int = 4) -> DataFrame:
        """Docs containing ALL of the probed (rarest) trigrams of
        ``pattern`` — a SUPERSET of the true substring matches. Reads
        only the probed trigrams' partitions."""
        probe = self._probe_trigrams(pattern, max_probe)
        return self._candidates_from_probe(probe)

    def _candidates_from_probe(
        self, probe: list[tuple[str, int]]
    ) -> DataFrame:
        if not probe:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id")
            )
        tris = [t for t, _ in probe]
        buckets = sorted({b for _, b in probe})
        return (
            self._postings.filter(
                F.col("bucket").isin(buckets) & F.col("trigram").isin(tris)
            )
            .groupBy("doc_id")
            # countDistinct, not count: duplicate posting rows (e.g. a
            # mid-crash replayed append) must never push nt past the
            # probe size and drop true matches
            .agg(F.countDistinct("trigram").alias("nt"))
            .filter(F.col("nt") == len(tris))
            .select("doc_id")
        )

    def search(
        self,
        docs: DataFrame,
        pattern: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_probe: int = 4,
    ) -> DataFrame:
        """EXACT case-insensitive substring search served from the
        index: probe -> candidate intersection -> verify candidates
        only. The candidate list is bounded by the rarest probed
        trigram's df, so the verify join broadcasts it and the corpus
        side stays a pruned scan."""
        cand = self.candidates(pattern, max_probe=max_probe)
        return docs.join(
            F.broadcast(cand), docs[id_col] == cand["doc_id"]
        ).filter(
            F.contains(F.lower(F.col(text_col)), F.lit(pattern.lower()))
        ).drop(cand["doc_id"])

    def batch_search(
        self,
        docs: DataFrame,
        queries: Sequence[tuple[int, str]],
        text_col: str = "text",
        id_col: str = "doc_id",
        max_probe: int = 4,
    ) -> DataFrame:
        """Serve MANY substring queries with ONE pruned postings read
        and ONE corpus verify pass — the same union-probe amortization
        as ``BM25Index.batch_topk``. Returns (query_id, doc_id).

        Per query the probed-trigram set is chosen rarest-first exactly
        as in ``search``; the union of (query_id, trigram) pairs ships
        as a broadcast map; intersection is one count-match aggregation
        keyed (query_id, doc_id); verification joins the corpus ONCE
        with the per-query pattern riding the broadcast. Query ids must be
        unique within the batch."""
        require_unique_query_ids([qid for qid, _ in queries])
        probe_rows = []  # (query_id, trigram, n_probed)
        pat_rows = []  # (query_id, pattern_lower)
        for qid, pattern in queries:
            probe = self._probe_trigrams(pattern, max_probe)
            pat_rows.append((qid, pattern.lower()))
            for t, _ in probe:
                probe_rows.append((qid, t, len(probe)))
        if not probe_rows:
            return local_df(
                self.spark, [], "query_id long, doc_id long"
            )
        probe_df = local_df(
            self.spark, probe_rows, "query_id long, trigram string, n_probed long"
        )
        buckets = sorted(
            {
                int(b)
                for b in (
                    term_bucket(t, self._n_buckets())
                    for _, t, _ in probe_rows
                )
            }
        )
        cand = (
            self._postings.filter(F.col("bucket").isin(buckets))
            .join(F.broadcast(probe_df), "trigram")
            .groupBy("query_id", "doc_id")
            .agg(
                F.countDistinct("trigram").alias("nt"),
                F.first("n_probed").alias("np"),
            )
            .filter(F.col("nt") == F.col("np"))
            .select("query_id", "doc_id")
        )
        pat_df = local_df(
            self.spark, pat_rows, "query_id long, pattern string"
        )
        return (
            docs.join(F.broadcast(cand), docs[id_col] == cand["doc_id"])
            .join(F.broadcast(pat_df), "query_id")
            .filter(F.contains(F.lower(F.col(text_col)), F.col("pattern")))
            .select("query_id", cand["doc_id"])
        )

    def similarity_topk(self, query: str, k: int = 10) -> DataFrame:
        """pg_trgm-style fuzzy search: top-k docs by character-trigram
        Jaccard similarity to ``query`` — shared/(|Q| + |D| - shared)
        over DISTINCT trigram sets. Tolerates typos/reordering the
        exact substring path can't. Served ENTIRELY from the index: one
        bucket-pruned postings read counts shared trigrams per doc, the
        doclen table supplies |D|, and the corpus is never touched —
        at 100 TB this is the difference between a fuzzy-match feature
        and a fuzzy-match full scan. Deterministic contract: similarity
        rounds 6dp and orders (sim desc, doc_id asc), the repo-wide
        total order."""
        tris = extract_trigrams(query)
        if not tris:
            raise ValueError(
                f"similarity query needs >= {TRGM_N} chars; got {query!r}"
            )
        buckets = sorted(
            {term_bucket(t, self._n_buckets()) for t in tris}
        )
        shared = (
            self._postings.filter(
                F.col("bucket").isin(buckets) & F.col("trigram").isin(tris)
            )
            .groupBy("doc_id")
            .agg(F.countDistinct("trigram").alias("shared"))
        )
        dl = self.spark.read.parquet(f"{self._path}/doclen")
        sim = F.round(
            F.col("shared")
            / (F.lit(len(tris)) + F.col("n_tri") - F.col("shared")),
            6,
        )
        # no broadcast hint: `shared` is one row per doc containing ANY
        # query trigram — small for rare queries, unbounded for common
        # ones; let AQE size the join instead of pinning driver memory
        return (
            dl.join(shared, "doc_id")
            .select("doc_id", sim.alias("sim"))
            .orderBy(F.desc("sim"), F.asc("doc_id"))
            .limit(k)
        )

    def regex_candidates(
        self, pattern: str, max_probe: int = 6
    ) -> DataFrame:
        """Candidate docs for a restricted regex: pool the distinct
        trigrams of every REQUIRED literal run (``regex_literals``) and
        intersect their postings. Shared by ``regex_search`` and the
        store's indexed grep so the pooling/soundness logic lives in
        exactly one place. Raises ValueError for patterns with no
        probeable literal."""
        runs = regex_literals(pattern)
        tris: list[str] = []
        seen: set[str] = set()
        for r in runs:
            for t in extract_trigrams(r):
                if t not in seen:
                    seen.add(t)
                    tris.append(t)
        if not tris:
            raise ValueError(
                f"regex {pattern!r} has no required literal of "
                f">= {TRGM_N} chars — use a full scan"
            )
        return self._candidates_from_probe(
            self._probe_from_trigrams(tris, max_probe)
        )

    def regex_search(
        self,
        docs: DataFrame,
        pattern: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_probe: int = 6,
    ) -> DataFrame:
        """EXACT regex search accelerated by the trigram index — the
        Google-Code-Search prefilter (see ``regex_literals``): every
        literal run the regex REQUIRES must appear in a match, so
        candidates = docs containing all probed trigrams drawn from the
        union of the runs, and only candidates pay the ``regexp_like``
        verification. The pattern is matched against ``lower(text)``;
        supply it lowercase. Raises ValueError for patterns with no
        >= 3-char required literal (alternation, groups, or too-short
        runs) — those need the full scan this prefilter exists to
        avoid."""
        cand = self.regex_candidates(pattern, max_probe=max_probe)
        return (
            docs.join(F.broadcast(cand), docs[id_col] == cand["doc_id"])
            .filter(
                F.regexp_like(F.lower(F.col(text_col)), F.lit(pattern))
            )
            .drop(cand["doc_id"])
        )

    def _n_buckets(self) -> int:
        return self._nb


def regex_literals(pattern: str) -> list[str]:
    """Extract the REQUIRED literal runs of a (restricted) regex — the
    prefilter trick from Google Code Search's trigram index (Cox 2012,
    public write-up "Regular Expression Matching with a Trigram Index").
    Every returned run MUST appear verbatim in any match, so its
    trigrams can prune candidates with AND semantics.

    Supported subset: concatenations of plain characters, character
    classes ``[...]``, ``.``, anchors, escapes, and quantifiers
    ``? * + {m,n}``. NOT supported (raises ValueError — these make
    "required" literal extraction unsound without a full Cox-style
    product construction): alternation ``|`` and groups ``(...)``.

    Conservative rules, each keeps the run a true REQUIRED substring:
    - classes / ``.`` / anchors / escapes break the current run (an
      escaped literal like ``\\.`` is dropped rather than decoded);
    - ``?`` ``*`` ``{`` drop the preceding char (may match zero times)
      and break the run;
    - ``+`` KEEPS the preceding char (matches at least once) but breaks
      the run — the repetition may separate it from what follows."""
    for bad in "|()":
        if bad in pattern:
            raise ValueError(
                f"regex {pattern!r} uses {bad!r} — alternation/groups "
                "are not index-accelerable here; use a full scan"
            )
    runs: list[str] = []
    cur: list[str] = []

    def flush():
        if len(cur) >= TRGM_N:
            runs.append("".join(cur))
        cur.clear()

    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            # Only SINGLE-char escapes may be skipped as "consume 2".
            # Multi-char escape families (\xHH, \uHHHH, \0nn octal,
            # \cX control, \p{..}/\P{..} properties, \Q..\E quoting,
            # \N{..}, \k<name> named backrefs) and numeric backrefs
            # would leave their trailing chars in the literal run —
            # a spurious "required" trigram that prunes TRUE matches.
            # Conservative: refuse, caller falls back to a full scan.
            nxt = pattern[i + 1] if i + 1 < len(pattern) else ""
            if not nxt or nxt in "xuUcpPQNkE0123456789":
                raise ValueError(
                    f"regex {pattern!r}: escape \\{nxt or '<end>'} opens a "
                    "multi-char sequence — literal extraction would be "
                    "unsound; use a full scan"
                )
            flush()
            i += 2
        elif c == "[":
            flush()
            j = i + 1
            while j < len(pattern) and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            i = j + 1
        elif c in "?*{":
            if cur:
                cur.pop()
            flush()
            if c == "{":
                while i < len(pattern) and pattern[i] != "}":
                    i += 1
            i += 1
        elif c == "+":
            flush()
            i += 1
        elif c in ".^$":
            flush()
            i += 1
        else:
            cur.append(c)
            i += 1
    flush()
    return runs
