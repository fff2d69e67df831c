"""Bucketed-layout tests: the join must be shuffle-free and
layout-invariant (same results as the plain parquet join)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from vectolite_spark.operators.layout import bucketed_join, ensure_bucketed_table
from vectolite_spark.schema import load_table

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_no_shuffle_above_scans(spark):
    # force SMJ so the assertion exercises the bucketed path, not a
    # broadcast that would trivially avoid the shuffle at toy scale
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(
            spark, SF, "lineitem", "orders", "l_orderkey", "o_orderkey"
        )
        plan = _executed_plan(j.select("o_orderpriority"))
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        # no exchange anywhere in the join subtree: co-located buckets
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark):
    j = bucketed_join(
        spark, SF, "lineitem", "orders", "l_orderkey", "o_orderkey"
    )
    got = {
        (r["o_orderpriority"], r["n"])
        for r in j.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    want = {
        (r["o_orderpriority"], r["n"])
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_bucketed_table_reattach_is_metadata_only(spark):
    # second ensure with the files on disk but the catalog entry dropped
    # must re-register (DDL) without rewriting, and keep the bucket spec
    name = ensure_bucketed_table(spark, SF, "orders", "o_orderkey", buckets=8)
    spark.sql(f"DROP TABLE {name}")
    name2 = ensure_bucketed_table(spark, SF, "orders", "o_orderkey", buckets=8)
    assert name2 == name
    # one file per bucket (repartition-before-bucketBy contract); bucket id
    # is recoverable from the file names, which is what lets the DDL
    # re-attach trust the existing layout
    files = spark.table(name2).inputFiles()
    assert len(files) == 8, files
    assert all(re.search(r"_0000\d\.", f) for f in files)
    # the reattached table still joins shuffle-free (a bare projection
    # legitimately skips bucketed scan via autoBucketedScan, so the join
    # is the meaningful probe)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(
            spark, SF, "lineitem", "orders", "l_orderkey", "o_orderkey"
        )
        plan = _executed_plan(j.select("o_orderpriority"))
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_zorder_zonemap_prunes_and_matches_raw(spark, sf_dir, tmp_path):
    """The Z-ordered layout + zone map must (a) return exactly the raw
    filtered rows, (b) actually skip files for a 2-D predicate, and
    (c) prune on EITHER single dimension — the property directory
    partitioning on one key cannot give."""
    import datetime

    from vectolite_spark.operators.layout import (
        build_zonemap,
        write_zordered,
        zonemap_pruned_read,
    )
    from vectolite_spark.schema import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "zevents")
    write_zordered(events, path, "user_id", "ts", n_files=16)
    build_zonemap(spark, path, ["user_id", "ts"])

    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 14, 23, 59, 59)
    pruned, nread, ntotal = zonemap_pruned_read(
        spark, path, {"user_id": (3, 7), "ts": (lo, hi)}
    )
    raw = events.filter(
        F.col("user_id").between(3, 7) & F.col("ts").between(lo, hi)
    )
    assert sorted(r["event_id"] for r in pruned.collect()) == sorted(
        r["event_id"] for r in raw.collect()
    )
    assert 0 < nread < ntotal, (nread, ntotal)

    # single-dimension predicates prune too (Z-order interleaves both)
    _, nu, _ = zonemap_pruned_read(spark, path, {"user_id": (3, 7)})
    _, nt, _ = zonemap_pruned_read(spark, path, {"ts": (lo, hi)})
    assert nu < ntotal and nt < ntotal, (nu, nt, ntotal)
    # and the 2-D predicate prunes at least as hard as either alone
    assert nread <= min(nu, nt)


def test_zorder_value_interleaves_bits(spark):
    """Closed-form check: with ranges [0, 3] and 2 bits, the Morton value
    of (c1, c2) must be the textbook bit interleave."""
    from vectolite_spark.operators.layout import zorder_value

    rows = [(a, b) for a in range(4) for b in range(4)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_value(F.col("a"), F.col("b"), 0, 3, 0, 3, bits=2).alias("z")
        ).collect()
    }

    def morton(a, b):
        z = 0
        for i in range(2):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z)


def test_index_cache_vacuum_policy(tmp_path):
    """VERDICT r8 item 7 / ADVICE r9 keying fix: the build-if-absent
    .cache layout is bounded — superseded ``_vN`` versions evicted,
    LIVE parameter variants at the same version both kept, stale
    entries evicted by max-age, oldest-first eviction to a byte budget;
    the policy never crosses dataset fingerprints, zonemap sidecars
    ride with their parent, and non-index workdirs are left alone."""
    import os
    import time

    from vectolite_spark.registry import vacuum_index_cache

    def mk(name, age_days, nbytes=10):
        p = tmp_path / name
        p.mkdir()
        (p / "part.parquet").write_bytes(b"x" * nbytes)
        t = time.time() - age_days * 86400
        os.utime(p, (t, t))

    mk("bm25_v1_b32_sfX-aaaaaaaa", 100)  # superseded by v2 -> evicted
    mk("bm25_v2_b32_sfX-aaaaaaaa", 1)    # live
    mk("bm25_v2_b64_sfX-aaaaaaaa", 2)    # SAME version, other params: live
    mk("bm25_v2_b32_sfY-bbbbbbbb", 100)  # other DATASET: aged out, not superseded
    mk("ivf_v1_sfX-aaaaaaaa", 5)         # kept
    mk("ann_scale", 400, nbytes=900)     # non-index workdir: never touched
    evicted = vacuum_index_cache(max_age_days=30, cache_root=str(tmp_path))
    assert sorted(evicted) == [
        "bm25_v1_b32_sfX-aaaaaaaa", "bm25_v2_b32_sfY-bbbbbbbb"
    ]
    assert sorted(os.listdir(tmp_path)) == [
        "ann_scale",
        "bm25_v2_b32_sfX-aaaaaaaa",
        "bm25_v2_b64_sfX-aaaaaaaa",
        "ivf_v1_sfX-aaaaaaaa",
    ]
    # idempotent: a second vacuum of live variants evicts nothing
    # (the old family-truncated keying churned one per pass)
    assert vacuum_index_cache(max_age_days=30, cache_root=str(tmp_path)) == []

    # byte budget: oldest survivor goes first; its zonemap sidecar is
    # budgeted and evicted WITH it
    mk("zorder_v1_sfX-aaaaaaaa", 20, nbytes=400)
    mk("zorder_v1_sfX-aaaaaaaa.zonemap", 20, nbytes=100)
    mk("pq_v1_m8k16_sfX-aaaaaaaa", 2, nbytes=500)
    evicted = vacuum_index_cache(
        max_age_days=30, max_bytes=600, cache_root=str(tmp_path)
    )
    assert "zorder_v1_sfX-aaaaaaaa" in evicted
    assert "zorder_v1_sfX-aaaaaaaa.zonemap" in evicted
    assert "pq_v1_m8k16_sfX-aaaaaaaa" not in evicted
    assert "ann_scale" not in evicted

    # orphan zonemap (parent already gone) is swept
    mk("zorder_v1_sfZ-cccccccc.zonemap", 1)
    evicted = vacuum_index_cache(max_age_days=30, cache_root=str(tmp_path))
    assert evicted == ["zorder_v1_sfZ-cccccccc.zonemap"]

    # empty/missing root is a no-op
    assert vacuum_index_cache(cache_root=str(tmp_path / "nope")) == []


def test_index_cache_rebuild_on_miss(spark):
    """Eviction is always safe: every .cache consumer is build-if-absent,
    so a vacuumed index is rebuilt on the next ensure call."""
    import shutil

    from vectolite_spark import registry
    from vectolite_spark.operators.index_sync import index_ready

    sf = "/root/testdata/sf0.001"
    path = registry._ensure_ivf_index(spark, sf)
    assert index_ready(spark, path)
    shutil.rmtree(path)
    path2 = registry._ensure_ivf_index(spark, sf)
    assert path2 == path
    assert index_ready(spark, path)
