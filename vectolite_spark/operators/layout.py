"""Bucketed table layout: co-located (shuffle-free) joins at scale.

The single biggest shuffle in a TPC-H-shaped workload is the
lineitem<->orders join: both sides hash-exchange on the order key before
every SortMergeJoin.  Spark's bucketed tables remove that exchange
permanently — write each table ONCE clustered into N buckets by the join
key (Murmur3 hash, bucket id encoded in the file name), and every later
join/aggregation on that key reads co-located buckets with NO shuffle on
either input.  At 100 TB this converts the dominant recurring exchange
of a daily pipeline into a one-time layout cost, exactly like the IVF /
BM25 persisted indexes do for the retrieval paths (the same
build-once/probe-many economics, applied to relational joins).

Mechanics worth documenting because they're subtle:

* The data is written with ``repartition(n, key)`` BEFORE
  ``bucketBy(n, key)`` so each bucket lands in exactly one file (the
  writer otherwise emits numBuckets files *per task*).
* ``sortBy(key)`` stamps per-bucket sort metadata, letting the
  SortMergeJoin skip its sort when each bucket is a single file.
* The bucketed files outlive the Spark session, but catalog entries do
  not (in-memory catalog).  ``ensure_bucketed_table`` therefore
  re-registers an EXTERNAL table over the existing files with
  ``CREATE TABLE ... USING PARQUET CLUSTERED BY ... LOCATION`` — the
  scan recovers bucket ids from the file names, so re-registration is
  metadata-only (no rewrite, no scan).
* The bucket spec in the DDL must match the layout the files were
  written with (same key, same count); the recipe tag in the cache path
  pins that, and a changed spec changes the path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ensure_bucketed_table",
    "bucketed_join",
    "fan_out_small_scan",
    "zorder_value",
    "write_zordered",
    "build_zonemap",
    "zonemap_pruned_read",
]


def fan_out_small_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a SUB-PARALLELISM input before an expensive per-row
    stage (tokenizer / encoder UDF), scale-adaptively.

    A tiny corpus, a single unsplittable file, or one delta commit often
    arrives as fewer scan splits than the session has cores — and an
    Arrow UDF downstream then runs on ONE task while the rest of the
    cluster idles (guide §2.5 "input skew": fix at the source or
    repartition right after the read). At real scale the scan already
    carries >= parallelism splits and this returns ``df`` UNCHANGED — no
    shuffle is ever added to a big input, so the 100 TB plan is
    identical with or without it.

    Only safe where downstream semantics are row-set based (index
    builds, aggregations): a round-robin repartition changes row order
    and partition assignment. Do NOT use it in front of order- or
    partition-sensitive consumers (k-means seeding, zipWithIndex).
    """
    target = int(min_parts or df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _table_ident(path: str) -> str:
    """Catalog-safe table name derived from the cache path (which already
    carries the recipe + dataset fingerprint, so names never collide
    across datasets or bucket specs within one session)."""
    return "bkt_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(path)).lower()


def ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    buckets: int = 8,
) -> str:
    """Build-if-absent bucketed copy of ``table`` clustered by ``key``;
    returns the catalog table name to query.

    First call per dataset pays one write (a single exchange on ``key`` —
    the same exchange a single join would have paid, amortized over every
    future join).  Later sessions re-attach the existing files with a
    metadata-only DDL.
    """
    from vectolite_spark.registry import _cached_index, index_cache_path
    from vectolite_spark.schema import load_table

    recipe = f"bktv1_{table}_{key}_b{buckets}"
    name = _table_ident(index_cache_path(recipe, sf_dir))
    if spark.catalog.tableExists(name):
        return name

    def _write(path):
        (
            load_table(spark, sf_dir, table)
            .repartition(buckets, F.col(key))
            .write.bucketBy(buckets, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )

    path = _cached_index(recipe, sf_dir, _write)
    if not spark.catalog.tableExists(name):
        # files exist from a prior session: metadata-only re-attach
        schema_ddl = spark.read.parquet(path).schema.toDDL()
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({schema_ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    return name


def bucketed_join(
    spark: SparkSession,
    sf_dir: str,
    left: str,
    right: str,
    left_key: str,
    right_key: str,
    buckets: int = 8,
) -> DataFrame:
    """Join two tables on a shared key through their bucketed layouts.

    Both sides cluster into the same bucket count on their join key, so
    the SortMergeJoin consumes co-located buckets directly — the physical
    plan has no shuffle above either scan (asserted in
    tests/test_layout.py).  This is the repeatable-join serving shape:
    layout cost once, every subsequent join shuffle-free.
    """
    lt = ensure_bucketed_table(spark, sf_dir, left, left_key, buckets)
    rt = ensure_bucketed_table(spark, sf_dir, right, right_key, buckets)
    ldf = spark.table(lt)
    rdf = spark.table(rt)
    return ldf.join(rdf, ldf[left_key] == rdf[right_key])


# ---------------------------------------------------------------------------
# Z-order layout + zone-map file skipping (multi-column data skipping)
# ---------------------------------------------------------------------------
# Directory partitioning and bucketing each cluster ONE key. A scan
# filtered on TWO dimensions (user AND time) still reads everything unless
# the layout interleaves both — the classic fix is Z-ordering (Morton
# order; the technique Delta Lake's OPTIMIZE ZORDER applies): normalize
# each dimension to a k-bit integer, interleave the bits, range-partition
# files by the interleaved value. Every file then covers a small rectangle
# in (dim1, dim2) space, so a per-file (min, max) zone map prunes MOST
# files for a predicate on EITHER dimension — Parquet row-group stats do
# this within a file; the zone map does it across files without opening
# footers. At 100 TB with ~100k files the zone map is ~100k tiny rows —
# the scan planner reads IT, not the data.


def zorder_value_multi(cols, los, his, bits: int = 16):
    """k-column Morton/Z value (VERDICT r7 item 8 — real pruning keys
    come in 3s: source, lang, date): each column min-max normalized to
    ``min(bits, 63 // k)`` bits (the interleaved value must fit a
    signed 64-bit long), bits round-robin interleaved (column j takes
    positions ``k*i + j``). Pure integer column expressions —
    deterministic, codegen'd, no UDF. More columns dilute each one's
    resolution (k=3 -> 16 bits each, k=4 -> 15) — the standard Z-order
    trade; beyond ~4 columns prefer partitioning on the extras."""
    k = len(cols)
    if k < 1:
        raise ValueError("zorder needs at least one column")
    bits = min(int(bits), 63 // k)
    top = (1 << bits) - 1

    def norm(c, lo, hi):
        if hi <= lo:
            return F.lit(0).cast("long")
        return F.floor(
            (c.cast("double") - F.lit(float(lo)))
            * F.lit(float(top))
            / F.lit(float(hi - lo))
        ).cast("long")

    norms = [norm(c, lo, hi) for c, lo, hi in zip(cols, los, his)]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, n in enumerate(norms):
            b = F.shiftright(n, i).bitwiseAND(F.lit(1))
            z = z + b * F.lit(1 << (k * i + j))
    return z


def zorder_value(c1, c2, min1, max1, min2, max2, bits: int = 16):
    """Two-column Morton value (the historical pair form): delegates to
    ``zorder_value_multi`` — c1 on even bit positions, c2 on odd."""
    return zorder_value_multi(
        [c1, c2], [min1, min2], [max1, max2], bits=bits
    )


def zorder_frame_multi(
    df: DataFrame, cols: list[str], n_files: int = 32, bits: int = 16
) -> DataFrame:
    """The Z-ordered ARRANGEMENT of ``df`` over k columns (no write):
    one stats job for the per-column (min, max), Morton value,
    range-partition into ``n_files`` z-contiguous partitions (each one
    a small k-dimensional box), sort within partitions so Parquet
    row-group stats are tight too. Callers that own their write path
    (the snapshot store's compaction commit) write this frame; plain
    layouts use ``write_zordered``. Numeric or timestamp columns
    (timestamps z-order by epoch seconds)."""
    import pyspark.sql.types as T

    def as_num(name):
        c = F.col(name)
        if isinstance(df.schema[name].dataType, T.TimestampType):
            return F.unix_timestamp(c)
        return c.cast("long")

    aggs = []
    for j, c in enumerate(cols):
        aggs += [
            F.min(as_num(c)).alias(f"lo{j}"),
            F.max(as_num(c)).alias(f"hi{j}"),
        ]
    stats = df.select(*aggs).first()
    z = zorder_value_multi(
        [as_num(c) for c in cols],
        [stats[f"lo{j}"] for j in range(len(cols))],
        [stats[f"hi{j}"] for j in range(len(cols))],
        bits=bits,
    )
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def zorder_frame(
    df: DataFrame, col1: str, col2: str, n_files: int = 32, bits: int = 16
) -> DataFrame:
    """Two-column form of ``zorder_frame_multi`` (the historical pair
    signature)."""
    return zorder_frame_multi(df, [col1, col2], n_files=n_files, bits=bits)


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """One-time Z-ordered rewrite: ``zorder_frame`` + overwrite to
    ``path``. Build-once/scan-many — the bucketed-join and IVF-index
    economics applied to multi-dimensional filtering."""
    zorder_frame(df, col1, col2, n_files=n_files, bits=bits).write.mode(
        "overwrite"
    ).parquet(path)


def build_zonemap(spark: SparkSession, path: str, cols: list[str]) -> None:
    """Per-file (min, max) ranges for ``cols`` over a parquet directory —
    ONE scan, grouped by file name; persisted as ``<path>.zonemap``
    (tiny: one row per data file). This is the cross-file complement of
    Parquet's in-file row-group stats."""
    df = spark.read.parquet(path)
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path + ".zonemap")
    )


def zonemap_pruned_read(
    spark: SparkSession, path: str, ranges: dict[str, tuple]
) -> tuple[DataFrame, int, int]:
    """Scan only the files whose zone intersects every predicate range.

    ``ranges``: {col: (lo, hi)} inclusive bounds. Returns (DataFrame of
    surviving files WITH the residual filter applied, n_files_read,
    n_files_total) — the counts are the pruning evidence the tests and
    bench assert on. The zone map is read and filtered first (tiny);
    only the surviving file list is handed to the parquet reader, so
    skipped files are never opened (at 100 TB: never even listed by the
    scan task — the planner's file index is the pruned list itself)."""
    zm = spark.read.parquet(path + ".zonemap")
    total = zm.count()
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        cond = cond & (F.col(f"max_{c}") >= F.lit(lo)) & (
            F.col(f"min_{c}") <= F.lit(hi)
        )
    files = [r["file"] for r in zm.filter(cond).select("file").collect()]
    residual = F.lit(True)
    for c, (lo, hi) in ranges.items():
        residual = residual & F.col(c).between(F.lit(lo), F.lit(hi))
    if not files:
        return spark.read.parquet(path).filter(F.lit(False)), 0, total
    return spark.read.parquet(*files).filter(residual), len(files), total
