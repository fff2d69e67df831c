"""Invariants for the r12 overlapped index builds (guide §2.6).

The builds now submit independent artifact jobs from driver threads.
Results must be identical to the sequential builds (the append==rebuild
tests pin scores); these tests pin the NEW structural invariants:
- every build ends with the index marked ready (``index_ready``);
- every derived artifact is consistent with the written postings;
- run_jobs propagates the earliest failure after all thunks finish.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vectolite_spark.operators.index_sync import index_params, index_ready


def test_run_jobs_results_and_error_order():
    from vectolite_spark.parallel import run_jobs

    assert run_jobs(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    assert run_jobs(lambda: "only") == ["only"]

    def boom_a():
        raise ValueError("a")

    def boom_b():
        raise KeyError("b")

    seen = []

    def side_effect():
        seen.append(True)
        return 9

    try:
        run_jobs(boom_a, side_effect, boom_b)
    except ValueError as e:  # earliest-listed failure wins
        assert str(e) == "a"
    else:  # pragma: no cover
        raise AssertionError("expected ValueError")
    assert seen == [True]  # every thunk still ran to completion


def test_trigram_build_artifacts_consistent(spark, sf_dir, tmp_path):
    from vectolite_spark.operators.retrieval import build_trigram_index
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "trgm")
    build_trigram_index(docs, path, n_buckets=4)

    assert index_ready(spark, path)

    post = spark.read.parquet(f"{path}/postings")
    doclen = {
        r["doc_id"]: r["n_tri"]
        for r in spark.read.parquet(f"{path}/doclen").collect()
    }
    want_doclen = {
        r["doc_id"]: r["n"]
        for r in post.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert doclen == want_doclen

    stats = {
        r["trigram"]: (r["df"], r["bucket"])
        for r in spark.read.parquet(f"{path}/stats").collect()
    }
    want_stats = {
        r["trigram"]: r["n"]
        for r in post.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {t: df for t, (df, _) in stats.items()} == want_stats
    # bucket column in stats matches the postings partitioning
    post_buckets = {
        r["trigram"]: r["bucket"]
        for r in post.select("trigram", "bucket").distinct().collect()
    }
    assert {t: b for t, (_, b) in stats.items()} == post_buckets


def test_bm25_build_artifacts_consistent(spark, sf_dir, tmp_path):
    from vectolite_spark.operators.retrieval import build_bm25_index
    from vectolite_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, path, n_buckets=8)

    assert index_ready(spark, path)

    post = spark.read.parquet(f"{path}/postings")
    termstats = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{path}/termstats").collect()
    }
    want_df = {
        r["term"]: r["n"]
        for r in post.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert termstats == want_df

    srow = spark.read.parquet(f"{path}/stats").collect()[0]
    dl = spark.read.parquet(f"{path}/doclen")
    want = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_dl"),
    ).collect()[0]
    assert (srow["n_docs"], srow["total_dl"]) == (
        want["n_docs"],
        want["total_dl"],
    )
    assert index_params(spark, path) == {"family": "bm25", "n_buckets": 8}


def test_ivfpq_build_artifacts_consistent(spark, tmp_path):
    import numpy as np

    from vectolite_spark.operators.ann import (
        build_ivfpq_index,
        train_pq_codebook,
    )
    from vectolite_spark.synthdata import synthetic_clustered_vectors

    vecs = synthetic_clustered_vectors(spark, 400, partitions=4)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(
        vecs, path, n_cells=4, m=4, pq_k=8, pq_iters=1, ivf_iters=1
    )

    assert index_ready(spark, path)

    # the threaded codebook equals a sequential training run exactly
    cb = np.array(
        [
            list(r["centroid"])
            for r in spark.read.parquet(f"{path}/codebook")
            .orderBy("code")
            .collect()
        ]
    )
    want_cb = train_pq_codebook(vecs, m=4, k=8, n_iters=1)
    assert np.array_equal(cb, np.asarray(want_cb, dtype=cb.dtype))

    # every cell dir named in the cells layout has a centroid row
    cents = {
        int(r["cluster"])
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    cells = {
        int(r["cell"])
        for r in spark.read.parquet(f"{path}/cells")
        .select("cell")
        .distinct()
        .collect()
    }
    assert cells <= cents


def test_conf_scope_and_pool_mutual_exclusion(spark):
    """VERDICT r12 item 4: session-conf scopes (``conf_scope``, as
    _small_loop_confs and scaled_state_confs build it) and run_jobs
    pools must never overlap — a scope entered mid-pool would leak
    tiny-partition/AQE-off confs into concurrent jobs. The guard raises LOUDLY in both directions and
    fully releases afterward."""
    import threading

    import pytest

    from vectolite_spark.operators.dedup import _small_loop_confs
    from vectolite_spark.parallel import ConfScopeOverlapError, run_jobs

    # pool inside an active conf scope -> refused
    with _small_loop_confs(spark, 10):
        with pytest.raises(ConfScopeOverlapError):
            run_jobs(lambda: 1, lambda: 2)
    # scope released: pools work again
    assert run_jobs(lambda: 1, lambda: 2) == [1, 2]

    # conf scope entered while a pool is draining -> refused, and the
    # session confs are left untouched (the scope never mutates before
    # the guard check)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    gate = threading.Event()
    errs: list[BaseException] = []

    def scoped_entry():
        gate.wait(10)
        try:
            with _small_loop_confs(spark, 10):
                pass  # pragma: no cover - must not be reached
        except ConfScopeOverlapError as e:
            errs.append(e)
        return "scoped"

    def releaser():
        gate.set()
        import time

        time.sleep(0.05)  # keep the pool alive through the scope attempt
        return "done"

    assert run_jobs(scoped_entry, releaser) == ["scoped", "done"]
    assert len(errs) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # single-thunk run_jobs is inline (no concurrency) — a conf scope
    # inside it stays legal
    def inline():
        with _small_loop_confs(spark, 10):
            return int(spark.conf.get("spark.sql.shuffle.partitions"))

    assert run_jobs(inline) == [1]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scaled_state_confs_registers_scope(spark, tmp_path):
    """scaled_state_confs participates in the same guard when it
    actually shrinks the partition count."""
    import pytest

    from vectolite_spark.parallel import ConfScopeOverlapError, run_jobs
    from vectolite_spark.streaming.ingest import scaled_state_confs

    src = tmp_path / "src"
    src.mkdir()
    (src / "tiny.txt").write_text("hello")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scaled_state_confs(spark, str(src)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        with pytest.raises(ConfScopeOverlapError):
            run_jobs(lambda: 1, lambda: 2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert run_jobs(lambda: 1, lambda: 2) == [1, 2]


def test_conf_scope_released_when_enter_fails(tmp_path):
    """ADVICE r13: a conf set that fails after the scope took the pool
    guard must release the guard — a leaked scope would make every later
    multi-thunk run_jobs raise ConfScopeOverlapError. A stand-in session
    whose ``conf.set`` fails drives both scopes into that path."""
    import types

    import pytest

    from vectolite_spark.operators.dedup import _small_loop_confs
    from vectolite_spark.parallel import run_jobs
    from vectolite_spark.streaming.ingest import scaled_state_confs

    class FailingConf:
        vals = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.shuffle.partitions": "8",
        }

        def get(self, key, default=None):
            return self.vals.get(key, default)

        def set(self, key, val):
            raise RuntimeError("injected conf.set failure")

    session = types.SimpleNamespace(
        conf=FailingConf(),
        sparkContext=types.SimpleNamespace(defaultParallelism=4),
    )
    src = tmp_path / "src"
    src.mkdir()
    (src / "tiny.txt").write_text("hello")
    for scope in (
        _small_loop_confs(session, 10),
        scaled_state_confs(session, str(src)),
    ):
        with pytest.raises(RuntimeError, match="injected"):
            with scope:
                pass  # pragma: no cover - __enter__ fails
        assert run_jobs(lambda: 1, lambda: 2) == [1, 2]


def test_phase_restores_description_when_block_raises(spark):
    """phase(label) labels the block's jobs and restores the previous
    description on exit — also when the block raises — and never
    touches the job group (a tracer owns it)."""
    import pytest

    from vectolite_spark.session import phase

    sc = spark.sparkContext
    desc, group = "spark.job.description", "spark.jobGroup.id"
    sc.setJobDescription("outer")
    sc.setLocalProperty(group, "tracer-group")
    try:
        with pytest.raises(ValueError, match="boom"):
            with phase("inner"):
                assert sc.getLocalProperty(desc) == "inner"
                raise ValueError("boom")
        assert sc.getLocalProperty(desc) == "outer"
        assert sc.getLocalProperty(group) == "tracer-group"
        sc.setJobDescription(None)
        with phase("inner"):
            spark.range(3).count()
        assert sc.getLocalProperty(desc) is None
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty(group, None)
