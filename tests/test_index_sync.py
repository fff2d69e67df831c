"""CDF-driven index maintenance: the watermark lifecycle that keeps a
persisted index in step with a SnapshotStore (VERDICT r7 item 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectolite_spark.errors import VectoliteError
from vectolite_spark.operators.index_sync import (
    index_watermark,
    set_index_watermark,
    sync_ivf_index,
    sync_trigram_index,
)
from vectolite_spark.snapshots import SnapshotStore


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "table"))


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, i % 2, [float(i), 1.0, 0.0]) for i in ids],
        "vec_id long, label int, embedding array<float>",
    )


def test_sync_ivf_consumes_exactly_the_delta(store, spark, tmp_path):
    from vectolite_spark.operators.ann import build_ivf_index, load_ivf_index

    idx = str(tmp_path / "ivf")
    v0 = store.append(_vecs(spark, range(0, 6)))
    build_ivf_index(store.read(v0), idx, cluster_col="label")
    assert index_watermark(spark, idx) == -1
    set_index_watermark(spark, idx, v0)
    assert index_watermark(spark, idx) == v0

    # two delta commits, ONE sync window
    store.append(_vecs(spark, range(6, 9)))
    v2 = store.append(_vecs(spark, range(9, 12)))
    out = sync_ivf_index(store, idx)
    assert out == {"v_from": v0, "v_to": v2, "n_rows": 6}
    assert index_watermark(spark, idx) == v2

    cells = load_ivf_index(spark, idx).cells()
    got = sorted(r["vec_id"] for r in cells.collect())
    assert got == list(range(12))  # nothing lost, nothing doubled

    # idempotent no-op when already current
    assert sync_ivf_index(store, idx)["n_rows"] == 0


def test_sync_refuses_unbound_index_and_rewrite_windows(
    store, spark, tmp_path
):
    from vectolite_spark.operators.ann import build_ivf_index

    idx = str(tmp_path / "ivf")
    v0 = store.append(_vecs(spark, range(0, 4)))
    build_ivf_index(store.read(v0), idx, cluster_col="label")
    with pytest.raises(VectoliteError, match="watermark"):
        sync_ivf_index(store, idx)  # never bound
    set_index_watermark(spark, idx, v0)

    store.append(_vecs(spark, range(4, 6)))
    store.compact(target_files=2)  # rewrite inside the window
    with pytest.raises(VectoliteError, match="rewrite"):
        sync_ivf_index(store, idx)
    # the refusal did NOT advance the watermark: rebuild + fast-forward
    assert index_watermark(spark, idx) == v0


def test_sync_srp_and_ivfpq_consume_exactly_the_delta(
    store, spark, tmp_path
):
    """The SRP and IVF-PQ families on the watermark loop: after a sync
    spanning two commits, each index's cells hold exactly the current
    table's ids — nothing lost, nothing doubled — and the IVF-PQ delta
    rows carry frozen-codebook codes of the right shape."""
    from vectolite_spark.operators.ann import (
        build_ivfpq_index,
        build_srp_index,
    )
    from vectolite_spark.operators.index_sync import (
        sync_ivfpq_index,
        sync_srp_index,
    )

    def _vecs8(ids):
        return spark.createDataFrame(
            [
                (i, i % 2, [float(i % 7), 1.0, float(i % 3), 0.5] * 2)
                for i in ids
            ],
            "vec_id long, label int, embedding array<float>",
        )

    v0 = store.append(_vecs8(range(0, 20)))
    srp, ivfpq = str(tmp_path / "srp"), str(tmp_path / "ivfpq")
    build_srp_index(store.read(v0), srp, n_tables=2, n_planes=3)
    build_ivfpq_index(store.read(v0), ivfpq, cluster_col="label", m=4)
    set_index_watermark(spark, srp, v0)
    set_index_watermark(spark, ivfpq, v0)
    store.append(_vecs8(range(20, 26)))
    v2 = store.append(_vecs8(range(26, 30)))
    assert sync_srp_index(store, srp) == {
        "v_from": v0, "v_to": v2, "n_rows": 10,
    }
    assert sync_ivfpq_index(store, ivfpq) == {
        "v_from": v0, "v_to": v2, "n_rows": 10,
    }
    # SRP: every id present in every table's bucketing (2 tables)
    srp_rows = spark.read.parquet(f"{srp}/cells").collect()
    assert len(srp_rows) == 30 * 2
    assert sorted({r["vec_id"] for r in srp_rows}) == list(range(30))
    # IVF-PQ: one row per vector, codes of m subspaces, no dups
    pq_rows = spark.read.parquet(f"{ivfpq}/cells").collect()
    assert sorted(r["vec_id"] for r in pq_rows) == list(range(30))
    assert all(len(r["codes"]) == 4 for r in pq_rows)


def test_sync_bm25_matches_rebuild(store, spark, tmp_path):
    """CDF-synced BM25: two delta commits fold through one watermark
    window and the served scores equal a from-scratch rebuild over the
    current table."""
    from vectolite_spark.operators.retrieval import (
        BM25Index,
        build_bm25_index,
    )
    from vectolite_spark.operators.index_sync import sync_bm25_index

    docs = [
        (i, f"term{i % 4} shared word filler{i}") for i in range(1, 13)
    ]

    def _df(lo, hi):
        return spark.createDataFrame(
            [d for d in docs if lo <= d[0] < hi], "doc_id long, text string"
        )

    idx = str(tmp_path / "bm25")
    v0 = store.append(_df(1, 7))
    build_bm25_index(store.read(v0), idx, n_buckets=4)
    set_index_watermark(spark, idx, v0)
    store.append(_df(7, 10))
    v2 = store.append(_df(10, 13))
    assert sync_bm25_index(store, idx) == {
        "v_from": v0, "v_to": v2, "n_rows": 6,
    }
    full = str(tmp_path / "bm25_full")
    build_bm25_index(store.read(), full, n_buckets=4)
    terms = ["shared", "term1", "term2"]
    got = sorted(
        (r["doc_id"], r["score"])
        for r in BM25Index(spark, idx).scores(terms).collect()
    )
    want = sorted(
        (r["doc_id"], r["score"])
        for r in BM25Index(spark, full).scores(terms).collect()
    )
    assert got == want and len(got) == 12


def test_rebuild_and_fast_forward_recovers_from_rewrite(
    store, spark, tmp_path
):
    """A rewrite commit inside the window makes sync refuse; the
    documented recovery — rebuild over the current snapshot and
    fast-forward the watermark — restores the loop: the next append
    syncs as a plain delta again."""
    from vectolite_spark.operators.ann import build_ivf_index, load_ivf_index
    from vectolite_spark.operators.index_sync import (
        rebuild_and_fast_forward,
        sync_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    v0 = store.append(_vecs(spark, range(0, 8)))
    build_ivf_index(store.read(v0), idx, cluster_col="label")
    set_index_watermark(spark, idx, v0)
    store.append(_vecs(spark, range(8, 10)))
    store.compact(target_files=2)  # rewrite: moved rows, not inserts
    with pytest.raises(VectoliteError, match="rewrite"):
        sync_ivf_index(store, idx)
    out = rebuild_and_fast_forward(
        store, idx,
        lambda df, p: build_ivf_index(df, p, cluster_col="label"),
    )
    assert out == {"version": store.current_version(), "n_rows": 10}
    assert index_watermark(spark, idx) == store.current_version()
    got = sorted(
        r["vec_id"] for r in load_ivf_index(spark, idx).cells().collect()
    )
    assert got == list(range(10))  # rebuild covered the rewrite exactly
    # the loop is live again: a later append folds in as a plain delta
    v_next = store.append(_vecs(spark, range(10, 12)))
    assert sync_ivf_index(store, idx)["n_rows"] == 2
    assert index_watermark(spark, idx) == v_next


def test_sync_trigram_serves_delta_and_guards_replay(store, spark, tmp_path):
    from vectolite_spark.operators.retrieval import (
        TrigramIndex,
        build_trigram_index,
    )

    docs = [
        (1, "alpha vector scan engine"),
        (2, "window aggregation pass"),
        (3, "vector scan again here"),
        (4, "completely unrelated text"),
        (5, "late vector scan arrival"),
        (6, "another window aggregation"),
    ]

    def _df(ids):
        return spark.createDataFrame(
            [d for d in docs if d[0] in ids], "doc_id long, text string"
        )

    idx = str(tmp_path / "trgm")
    v0 = store.append(_df({1, 2}))
    build_trigram_index(store.read(v0), idx, id_col="doc_id", n_buckets=4)
    set_index_watermark(spark, idx, v0)
    store.append(_df({3, 4}))
    v2 = store.append(_df({5, 6}))
    out = sync_trigram_index(store, idx)
    assert out == {"v_from": v0, "v_to": v2, "n_rows": 4}

    served = TrigramIndex(spark, idx).search(store.read(), "vector scan")
    assert sorted(r["doc_id"] for r in served.collect()) == [1, 3, 5]

    # a replayed window (watermark manually rolled back, as after a
    # partial crash) hits the id-overlap guard instead of corrupting df
    set_index_watermark(spark, idx, v0)
    with pytest.raises(ValueError, match="already indexed"):
        sync_trigram_index(store, idx)


def _vecs8(spark, ids):
    return spark.createDataFrame(
        [(i, i % 2, [float(i % 7), 1.0, float(i % 3), 0.5] * 2) for i in ids],
        "vec_id long, label int, embedding array<float>",
    )


def _cells_audit(spark, index_path):
    r = spark.read.parquet(f"{index_path}/cells").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("c")
    ).collect()[0]
    return r["n"], r["c"]


# family -> (builder, delta append the sync calls, sync, build kwargs)
_FENCED_FAMILIES = {
    "ivf": ("build_ivf_index", "ivf_index_append", "sync_ivf_index",
            {"cluster_col": "label"}),
    "srp": ("build_srp_index", "srp_index_append", "sync_srp_index",
            {"n_tables": 2, "n_planes": 3}),
    "ivfpq": ("build_ivfpq_index", "ivfpq_index_append", "sync_ivfpq_index",
              {"cluster_col": "label", "m": 4}),
}


@pytest.mark.parametrize("family", sorted(_FENCED_FAMILIES))
def test_sync_crash_after_append_is_fenced(spark, tmp_path, monkeypatch, family):
    """Crash injection between the delta append and the watermark write:
    the retry must refuse (the IVF, SRP and IVF-PQ appends have no
    id-overlap guard, so a replay would double-index the delta) and leave
    the cells untouched; rebuild_and_fast_forward then restores exactly
    the clean run's cells."""
    from vectolite_spark.operators import ann, index_sync
    from vectolite_spark.operators.index_sync import rebuild_and_fast_forward

    build_name, append_name, sync_name, build_kw = _FENCED_FAMILIES[family]

    def build(df, path):
        getattr(ann, build_name)(df, path, **build_kw)

    def sync(st, path):
        return getattr(index_sync, sync_name)(st, path)

    def two_commits_past_build(root):
        st = SnapshotStore(spark, str(root / "table"))
        v0 = st.append(_vecs8(spark, range(0, 20)))
        idx = str(root / "idx")
        build(st.read(v0), idx)
        set_index_watermark(spark, idx, v0)
        st.append(_vecs8(spark, range(20, 26)))
        st.append(_vecs8(spark, range(26, 30)))
        return st, idx

    st, clean = two_commits_past_build(tmp_path / "clean")
    sync(st, clean)
    want = _cells_audit(spark, clean)

    st, idx = two_commits_past_build(tmp_path / "crash")
    real_append = getattr(ann, append_name)

    def append_then_crash(*args, **kwargs):
        real_append(*args, **kwargs)
        raise RuntimeError("crashed before the watermark write")

    monkeypatch.setattr(ann, append_name, append_then_crash)
    with pytest.raises(RuntimeError, match="crashed before"):
        sync(st, idx)
    monkeypatch.setattr(ann, append_name, real_append)
    after_crash = _cells_audit(spark, idx)
    assert after_crash == want  # the append itself did land

    with pytest.raises(VectoliteError, match="rebuild_and_fast_forward"):
        sync(st, idx)
    assert _cells_audit(spark, idx) == after_crash  # nothing re-appended

    rebuild_and_fast_forward(st, idx, build)
    assert sync(st, idx)["n_rows"] == 0
    assert _cells_audit(spark, idx) == want
    assert index_watermark(spark, idx) == st.current_version()


def test_partial_build_is_not_ready_and_gets_rebuilt(spark, tmp_path, monkeypatch):
    """A builder that raises after writing its first parts (the SRP cells
    land, the ready-marker write fails) leaves an index that index_ready
    rejects; store.query(ann=True) and the registry's _cached_index both
    rebuild it, and their answers equal a clean build's."""
    import os
    import shutil

    from vectolite_spark import registry
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.operators import ann
    from vectolite_spark.operators.index_sync import index_ready
    from vectolite_spark.store import SparkVectolite

    def marker_write_fails(*args, **kwargs):
        raise RuntimeError("crash mid-build")

    builds = []
    real_build = ann.build_srp_index

    def counted_build(*args, **kwargs):
        builds.append(1)
        return real_build(*args, **kwargs)

    texts = [f"document number {i} about topic {i % 3}" for i in range(24)]
    clean = SparkVectolite(spark, str(tmp_path / "clean"), embed_fn=stub_embedder(16))
    broken = SparkVectolite(spark, str(tmp_path / "broken"), embed_fn=stub_embedder(16))
    clean.insert_many(texts)
    broken.insert_many(texts)
    clean.build_ann_index()
    with monkeypatch.context() as m:
        m.setattr(ann, "mark_index_ready", marker_write_fails)
        with pytest.raises(RuntimeError, match="crash mid-build"):
            broken.build_ann_index()
    assert os.path.isdir(f"{broken._ann_path()}/cells")  # first parts landed
    assert not index_ready(spark, broken._ann_path())
    monkeypatch.setattr(ann, "build_srp_index", counted_build)
    got = broken.query(texts[5], top_k=4, ann=True)
    assert builds == [1] and index_ready(spark, broken._ann_path())
    assert got == clean.query(texts[5], top_k=4, ann=True)

    embs = _vecs8(spark, range(40))
    want_path = str(tmp_path / "srp_clean")
    real_build(embs, want_path)
    qvec = [3.0, 1.0, 2.0, 0.5] * 2
    want = ann.srp_index_topk(spark, want_path, qvec, k=5).collect()
    sf = str(tmp_path / "sf_partial")
    path = registry.index_cache_path("partial_build_test", sf)
    try:
        with monkeypatch.context() as m:
            m.setattr(ann, "mark_index_ready", marker_write_fails)
            with pytest.raises(RuntimeError, match="crash mid-build"):
                registry._cached_index(
                    "partial_build_test", sf, lambda p: real_build(embs, p)
                )
        assert os.path.isdir(f"{path}/cells")
        assert not index_ready(spark, path)
        builds.clear()
        assert registry._cached_index(
            "partial_build_test", sf, lambda p: counted_build(embs, p)
        ) == path
        assert builds == [1] and index_ready(spark, path)
        assert ann.srp_index_topk(spark, path, qvec, k=5).collect() == want
        # a hit never rebuilds
        registry._cached_index("partial_build_test", sf, counted_build)
        assert builds == [1]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_cached_index_rebuilds_when_its_fingerprint_changes(spark, tmp_path):
    """A ``.cache`` index records what built it (the package sources and
    the session's core count) in its recipe marker: an unchanged
    fingerprint serves the cached index, a tampered or legacy one
    rebuilds it and records the current fingerprint again."""
    import os
    import shutil

    from vectolite_spark import registry

    sf = str(tmp_path / "sf_fingerprint")
    path = registry.index_cache_path("fingerprint_test", sf)
    done = os.path.join(path, registry._RECIPE_DONE)
    builds: list[str] = []

    def build(p: str) -> None:
        builds.append(p)
        os.makedirs(p, exist_ok=True)

    def marker() -> str:
        with open(done) as f:
            return f.read()

    try:
        assert registry._cached_index("fingerprint_test", sf, build) == path
        fingerprint = marker()
        assert fingerprint == registry._build_fingerprint()
        assert f"cores={spark.sparkContext.defaultParallelism}" in fingerprint
        registry._cached_index("fingerprint_test", sf, build)
        assert len(builds) == 1, "an unchanged fingerprint serves the index"
        for stale in (fingerprint.replace("cores=", "cores=9"), "done"):
            with open(done, "w") as f:
                f.write(stale)
            registry._cached_index("fingerprint_test", sf, build)
            assert marker() == fingerprint
        assert len(builds) == 3, "each stale fingerprint rebuilt once"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"term{i % 4} shared vector scan filler{i}") for i in ids],
        "doc_id long, text string",
    )


_QVEC8 = [3.0, 1.0, 2.0, 0.5] * 2


def _probe_srp(spark, idx):
    from vectolite_spark.operators.ann import srp_index_topk

    return srp_index_topk(spark, idx, _QVEC8, k=5).collect()


def _probe_ivfpq(spark, idx):
    from vectolite_spark.operators.ann import IVFPQIndex

    h = IVFPQIndex(spark, idx)
    return h.topk(
        _QVEC8, k=5, n_probe=len(h.centroids), refine=10_000
    ).collect()


def _probe_bm25(spark, idx):
    from vectolite_spark.operators.retrieval import BM25Index

    return BM25Index(spark, idx).topk(["shared", "term1"], k=5).collect()


def _probe_trigram(spark, idx):
    from vectolite_spark.operators.retrieval import TrigramIndex

    return TrigramIndex(spark, idx).similarity_topk("term1 shared", k=5).collect()


# family -> (rows, builder module, builder, build kwargs, the non-default
# parameters the marker must record, probe)
_PARAM_FAMILIES = {
    "srp": (_vecs8, "ann", "build_srp_index",
            {"n_tables": 4, "n_planes": 3}, {"n_tables": 4, "n_planes": 3},
            _probe_srp),
    "ivfpq": (_vecs8, "ann", "build_ivfpq_index",
              {"cluster_col": "label", "m": 4}, {"m": 4}, _probe_ivfpq),
    "bm25": (_docs, "retrieval", "build_bm25_index",
             {"n_buckets": 4}, {"n_buckets": 4}, _probe_bm25),
    "trigram": (_docs, "retrieval", "build_trigram_index",
                {"n_buckets": 4}, {"n_buckets": 4}, _probe_trigram),
}


@pytest.mark.parametrize("family", sorted(_PARAM_FAMILIES))
def test_index_carries_its_build_parameters(spark, tmp_path, family):
    """Built with non-default parameters, each family records them in
    its ready marker, and is probed, appended to (through its sync) and
    synced with no caller restating them; the synced index equals a
    rebuild over the current table: same marker, same answers."""
    import importlib

    from vectolite_spark.operators import index_sync
    from vectolite_spark.operators.index_sync import index_params

    rows, module, build_name, build_kw, recorded, probe = (
        _PARAM_FAMILIES[family]
    )
    builder = getattr(
        importlib.import_module(f"vectolite_spark.operators.{module}"),
        build_name,
    )
    st = SnapshotStore(spark, str(tmp_path / "table"))
    v0 = st.append(rows(spark, range(0, 20)))
    idx = str(tmp_path / "idx")
    builder(st.read(v0), idx, **build_kw)
    params = index_params(spark, idx)
    assert params["family"] == family
    assert recorded.items() <= params.items()
    assert probe(spark, idx)
    set_index_watermark(spark, idx, v0)
    st.append(rows(spark, range(20, 26)))
    st.append(rows(spark, range(26, 30)))
    sync = getattr(index_sync, f"sync_{family}_index")
    assert sync(st, idx)["n_rows"] == 10

    full = str(tmp_path / "full")
    builder(st.read(), full, **build_kw)
    assert index_params(spark, idx) == index_params(spark, full)
    assert probe(spark, idx) == probe(spark, full)


def test_marker_without_build_parameters_names_the_rebuild(spark, tmp_path):
    """A ready marker written before markers recorded the build
    parameters is refused with the rebuild named: a probe never guesses
    the planes it would bucket with."""
    from vectolite_spark.operators.ann import build_srp_index, srp_index_topk
    from vectolite_spark.operators.index_sync import index_ready
    from vectolite_spark.store import _HadoopFS

    idx = str(tmp_path / "srp")
    build_srp_index(_vecs8(spark, range(20)), idx, n_tables=2, n_planes=3)
    # the marker as builds wrote it before it carried parameters
    _HadoopFS(spark, idx).write_text(f"{idx}/_BUILT", "built", overwrite=True)
    assert index_ready(spark, idx)
    with pytest.raises(VectoliteError, match="rebuild"):
        srp_index_topk(spark, idx, _QVEC8, k=3)


def _dup_topk_batch(spark, tmp_path, queries):
    from vectolite_spark.operators.topk import topk_batch

    qdf = spark.createDataFrame(queries, "query_id long, query_vec array<double>")
    return topk_batch(qdf, _vecs8(spark, range(20)), k=5)


def _dup_srp(spark, tmp_path, queries):
    from vectolite_spark.operators.ann import build_srp_index, srp_index_topk_batch

    idx = str(tmp_path / "srp")
    build_srp_index(_vecs8(spark, range(20)), idx, n_tables=2, n_planes=3)
    qdf = spark.createDataFrame(queries, "query_id long, query_vec array<double>")
    return srp_index_topk_batch(spark, idx, qdf, k=5)


def _dup_ivf(spark, tmp_path, queries):
    from vectolite_spark.operators.ann import build_ivf_index, load_ivf_index

    idx = str(tmp_path / "ivf")
    build_ivf_index(_vecs8(spark, range(20)), idx, cluster_col="label")
    return load_ivf_index(spark, idx).batch_topk(queries, k=5)


def _dup_ivfpq(spark, tmp_path, queries):
    from vectolite_spark.operators.ann import IVFPQIndex, build_ivfpq_index

    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(_vecs8(spark, range(20)), idx, cluster_col="label", m=4)
    return IVFPQIndex(spark, idx).batch_topk(queries, k=5)


def _dup_bm25(spark, tmp_path, queries):
    from vectolite_spark.operators.retrieval import BM25Index, build_bm25_index

    idx = str(tmp_path / "bm25")
    build_bm25_index(_docs(spark, range(20)), idx)
    return BM25Index(spark, idx).batch_topk(
        [(q, ["shared", f"term{i}"]) for i, (q, _) in enumerate(queries)], k=5
    )


def _dup_trigram(spark, tmp_path, queries):
    from vectolite_spark.operators.retrieval import TrigramIndex, build_trigram_index

    idx = str(tmp_path / "trgm")
    docs = _docs(spark, range(20))
    build_trigram_index(docs, idx)
    return TrigramIndex(spark, idx).batch_search(
        docs, [(q, f"term{i}") for i, (q, _) in enumerate(queries)]
    )


@pytest.mark.parametrize(
    "probe",
    [_dup_topk_batch, _dup_srp, _dup_ivf, _dup_ivfpq, _dup_bm25, _dup_trigram],
    ids=["topk_batch", "srp", "ivf", "ivfpq", "bm25", "trigram"],
)
def test_batch_probes_refuse_duplicate_query_ids(spark, tmp_path, probe):
    """Two different queries under one query id would be merged into one
    top-k (or scored against each other's state); every batch probe
    refuses the batch instead."""
    queries = [(0, _QVEC8), (0, [1.0, 0.0] * 4)]
    with pytest.raises(ValueError, match="duplicate query ids"):
        probe(spark, tmp_path, queries).collect()
