"""Reference CRUD/relational parity operators (SURVEY.md §2.2, §2.4-2.5).

Every operator is a pure DataFrame transformation — Catalyst handles column
pruning and predicate pushdown into the parquet scans; nothing here shuffles
except the global sort in pagination (which AQE coalesces; at 100 TB
pagination over a sorted/partitioned table prunes to the relevant partitions
via min/max stats — the reference's B-tree index on created_at, subsumed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def truncate_text(col: Column | str, max_len: int = 200) -> Column:
    """F2 (vectolite.py:241-244): text[:max_len] + '...' iff longer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > max_len, F.concat(F.substring(c, 1, max_len), F.lit("..."))
    ).otherwise(c)


def list_documents(
    df: DataFrame,
    order_cols: list[Column],
    limit: int = 50,
    offset: int = 0,
    include_text: bool = True,
    text_col: str = "text",
    max_text: int = 200,
) -> DataFrame:
    """A3 (vectolite.py:201-266): ORDER BY ... LIMIT ? OFFSET ? pagination,
    with the reference's include_text / truncation projection variants (P1).

    ``DataFrame.offset`` (Spark 3.4+) keeps limit+offset in the plan, so the
    optimizer fetches only offset+limit rows per partition before the merge.
    """
    out = df.orderBy(*order_cols)
    if offset:
        out = out.offset(offset)
    out = out.limit(limit)
    if include_text:
        out = out.withColumn(text_col, truncate_text(text_col, max_text))
    else:
        out = out.drop(text_col)
    return out


def point_lookup(df: DataFrame, id_col: str, id_value) -> DataFrame:
    """P2 (vectolite.py:268-298): equality predicate, pushed to parquet."""
    return df.filter(F.col(id_col) == id_value)


def delete_where(df: DataFrame, predicate: Column) -> DataFrame:
    """P3 (vectolite.py:186-199) as an immutable rewrite: rows NOT matching
    the predicate survive. SQL ``DELETE WHERE`` semantics exactly: only
    rows where the predicate is TRUE are deleted — a NULL predicate (e.g.
    ``lang = 'de'`` on a NULL lang) KEEPS the row; a bare ``~predicate``
    filter would silently drop it. At 100 TB the real answer is a
    Delta/Iceberg ``DELETE WHERE`` (file-level rewrite of affected files
    only); plain parquet requires full rewrite — documented trade-off,
    same semantics."""
    return df.filter(~F.coalesce(predicate, F.lit(False)))


def copurchase_pairs(
    df: DataFrame,
    key_col: str,
    item_col: str,
    k: int = 20,
    min_support: int = 1,
) -> DataFrame:
    """Market-basket pair mining: top-k item pairs by basket
    co-occurrence — the association-rule building block (frequent
    2-itemsets). Returns (item_a, item_b, n_baskets) in the repo's
    total order (count desc, item_a asc, item_b asc).

    Spark-first shape: NO self-join. SQL's natural formulation joins
    the basket relation to itself on the key (a second shuffle of the
    full fact plus a skew hazard on big baskets); here one groupBy
    collects each basket's distinct item set, pairs explode INSIDE the
    row from the sorted array (i < j, so each unordered pair appears
    exactly once), and one hash aggregation counts them — two narrow
    shuffles total, with per-row pair fan-out bounded by the basket
    size (TPC-H baskets are <= 7 lines; retail baskets are dozens —
    quadratic in basket size, not corpus size). TakeOrdered serves the
    top-k without a global sort."""
    pairs = basket_pair_counts(df, key_col, item_col, min_support)
    return pairs.orderBy(
        F.desc("n_baskets"), F.asc("item_a"), F.asc("item_b")
    ).limit(k)


def _baskets(df: DataFrame, key_col: str, item_col: str) -> DataFrame:
    """One row per basket: (key_col, its = sorted distinct item array).
    The single wide exchange (hash by basket key) every basket-mining
    consumer shares — callers that derive several relations from it
    should build them all from ONE returned frame so Spark's exchange
    reuse scans and shuffles the fact exactly once (guide §2.4)."""
    return df.groupBy(key_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("its")
    )


def _pairs_from_baskets(baskets: DataFrame, min_support: int) -> DataFrame:
    """In-row unordered pair explode + count over a ``_baskets`` frame."""
    return (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("its"),
                        lambda a, i: F.transform(
                            F.slice(
                                F.col("its"), i + 2, F.size(F.col("its"))
                            ),
                            lambda b: F.struct(
                                a.alias("item_a"), b.alias("item_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_support)
    )


def basket_pair_counts(
    df: DataFrame,
    key_col: str,
    item_col: str,
    min_support: int = 1,
) -> DataFrame:
    """(item_a, item_b, n_baskets) for every unordered item pair
    co-occurring in >= min_support baskets — the join-free pair counts
    ``copurchase_pairs`` ranks and ``association_rules`` scores."""
    return _pairs_from_baskets(_baskets(df, key_col, item_col), min_support)


def association_rules(
    df: DataFrame,
    key_col: str,
    item_col: str,
    k: int = 20,
    min_support: int = 2,
) -> DataFrame:
    """Association rules from frequent pairs: for each directed rule
    antecedent -> consequent, confidence = n_both/n_antecedent and
    lift = n_both * n_baskets / (n_antecedent * n_consequent), top-k by
    (rounded lift desc, rounded confidence desc, antecedent,
    consequent). Pairs, item counts AND the basket total all derive
    from ONE basket-grouped relation (``_baskets``), so the fact is
    scanned and exchanged exactly once — exchange reuse feeds the three
    consumers from the same shuffle (guide §2.4); the old shape paid a
    second full scan + distinct exchange for (key, item) pairs whose
    information the basket rows already carry. n_item = exploded
    distinct-per-basket items (identical to the old distinct-pair
    count: collect_set dedups within basket); the basket total counts
    non-null keys exactly as countDistinct did. The scoring joins touch
    only the min_support-filtered pair table. All metrics are integer
    ratios in float64, rounded 6dp before ordering, so the ranking is
    engine-deterministic."""
    baskets = _baskets(df, key_col, item_col)
    pairs = _pairs_from_baskets(baskets, min_support)
    rules = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        F.col("n_baskets").alias("n_both"),
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            F.col("n_baskets").alias("n_both"),
        )
    )
    icnt = (
        baskets.select(F.explode("its").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    total = baskets.filter(F.col(key_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_baskets_total")
    )
    ia = icnt.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ib = icnt.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ib), "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_both")
                * F.col("n_baskets_total")
                / (F.col("n_a") * F.col("n_c")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"),
            F.desc("confidence"),
            F.asc("antecedent"),
            F.asc("consequent"),
        )
        .limit(k)
    )
