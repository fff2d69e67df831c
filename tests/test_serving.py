"""Dynamic micro-batching serving layer: concurrent callers coalesce
into one topk_batch job and every caller gets exactly the flagship
per-query answer (no cross-query leakage, deterministic ordering)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

import pytest

from vectolite_spark import store as store_mod
from vectolite_spark.operators.topk import topk_ids
from vectolite_spark.schema import load_table
from vectolite_spark.serving import MicroBatcher
from vectolite_spark.store import _BatchedSet, _ResidentSet

SF = "/root/testdata/sf0.001"


def test_microbatcher_matches_per_query_path(spark):
    embs = load_table(spark, SF, "embeddings").cache()
    embs.count()
    qvecs = [
        [float(x) for x in r["embedding"]]
        for r in embs.orderBy("vec_id").limit(8).collect()
    ]
    want = {
        i: [
            (r["vec_id"], float(r["score"]))
            for r in topk_ids(embs, qv, 5).collect()
        ]
        for i, qv in enumerate(qvecs)
    }

    mb = MicroBatcher(embs, k=5, max_batch=8, max_wait_ms=30)
    got: dict[int, list] = {}
    errs: list[Exception] = []

    def client(i: int) -> None:
        try:
            got[i] = mb.query(qvecs[i])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert got == want
    embs.unpersist()


def test_microbatcher_single_query_and_overflow(spark):
    embs = load_table(spark, SF, "embeddings").cache()
    embs.count()
    qv = [float(x) for x in embs.first()["embedding"]]
    want = [
        (r["vec_id"], float(r["score"])) for r in topk_ids(embs, qv, 3).collect()
    ]
    # a lone query still serves (pays at most max_wait extra)
    mb = MicroBatcher(embs, k=3, max_batch=4, max_wait_ms=5)
    assert mb.query(qv) == want
    # more clients than max_batch: overflow rolls into a second cycle,
    # every caller still gets the right answer
    got = []
    lock = threading.Lock()

    def client() -> None:
        r = mb.query(qv)
        with lock:
            got.append(r)

    threads = [threading.Thread(target=client) for _ in range(10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 10 and all(r == want for r in got)
    mb.close()
    import pytest

    with pytest.raises(RuntimeError):
        mb.query(qv)
    embs.unpersist()


def test_microbatcher_dispatch_failure_resets_latch(spark):
    """A batch job that throws must fail ITS waiters and reset the
    dispatch latch — the batcher stays usable for the next query
    (ADVICE r6: a pre-_run_batch throw used to wedge _dispatching=True
    and park every later caller forever)."""
    embs = load_table(spark, SF, "embeddings").cache()
    embs.count()
    qv = [float(x) for x in embs.first()["embedding"]]
    mb = MicroBatcher(embs, k=3, max_batch=4, max_wait_ms=5)
    want = mb.query(qv)

    boom = RuntimeError("injected batch failure")

    def broken(*_a):
        raise boom

    orig = mb._run_batch
    mb._run_batch = broken
    import pytest

    with pytest.raises(RuntimeError, match="injected"):
        mb.query(qv)
    # latch reset: a healthy dispatch cycle still serves afterwards
    mb._run_batch = orig
    assert mb.query(qv) == want
    embs.unpersist()


def test_microbatcher_close_wakes_parked_waiters(spark):
    """close() must error out already-parked waiters instead of leaving
    them blocked on events nobody will set (ADVICE r6)."""
    import time

    embs = load_table(spark, SF, "embeddings").cache()
    embs.count()
    qv = [float(x) for x in embs.first()["embedding"]]
    mb = MicroBatcher(embs, k=3, max_batch=64, max_wait_ms=200)
    outcomes: list[str] = []
    lock = threading.Lock()

    def client() -> None:
        try:
            mb.query(qv)
            with lock:
                outcomes.append("ok")
        except RuntimeError:
            with lock:
                outcomes.append("closed")

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    time.sleep(0.05)  # let them park inside the accumulation window
    mb.close()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads), "a waiter stayed parked"
    # every client finished — served by the live dispatcher's final batch
    # or failed with the close error; none hung
    assert len(outcomes) == 4
    embs.unpersist()


def test_store_batched_serving_facade_matches_exact_path(spark, tmp_path):
    """VERDICT r6 item 2: store.query routes through the MicroBatcher
    facade — N concurrent callers coalesce into FEWER dispatch cycles
    (one batch job each), every caller gets exactly the per-job path's
    answer (ids, scores, text, metadata), and smaller top_k slices the
    batcher's prefix."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "sdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many(
        [f"facade doc number {i}" for i in range(30)],
        [{"k": i} for i in range(30)],
    )
    texts = [f"facade doc number {i}" for i in range(5)]
    want = {t: store.query(t, top_k=3) for t in texts}  # per-job path

    store.enable_batched_serving(top_k=5, max_wait_ms=40, resident_max_bytes=0)
    batcher = store._ensure_working_set().exact
    cycles: list[int] = []
    orig = batcher._run_batch

    def counting(qvecs, ks=None):
        cycles.append(len(qvecs))
        return orig(qvecs, ks)

    batcher._run_batch = counting

    got: dict[int, list] = {}
    errs: list[Exception] = []

    def client(i: int) -> None:
        try:
            got[i] = store.query(texts[i % 5], top_k=3)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sum(cycles) == 8, "every query went through the facade"
    assert len(cycles) < 8, "concurrent callers coalesced into fewer jobs"
    for i, res in got.items():
        assert res == want[texts[i % 5]]
    # over-ceiling top_k falls through to the per-job path (still correct)
    assert store.query(texts[0], top_k=8) == store.query(texts[0], top_k=8)
    store.disable_batched_serving()


def test_store_batched_serving_filtered_queries(spark, tmp_path):
    """VERDICT r7 item 7: metadata-filtered queries ride the shared
    batcher via recall-safe over-fetch — concurrent filtered callers
    coalesce into fewer dispatch cycles, every answer equals the exact
    filtered job's, and provably-incomplete prefixes (too-selective
    filters) fall back to the exact path instead of under-returning."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "fdb"), embed_fn=stub_embedder(dim=8)
    )
    texts = [f"filter doc number {i}" for i in range(40)]
    store.insert_many(
        texts, [{"tenant": f"t{i % 3}", "n": i} for i in range(40)]
    )
    probes = texts[:6]
    want = {
        (t, ten): store.query(t, top_k=3, metadata_filter={"tenant": ten})
        for t in probes
        for ten in ("t0", "t1")
    }
    want_n5 = store.query(probes[0], top_k=2, metadata_filter={"n": 5})
    assert want_n5, "fixture: the n=5 doc must exist"

    store.enable_batched_serving(top_k=5, max_wait_ms=40, resident_max_bytes=0)
    batcher = store._ensure_working_set().exact
    assert batcher._k == 5 * store_mod._FILTER_OVERFETCH == 20
    cycles: list[int] = []
    orig = batcher._run_batch

    def counting(qvecs, ks=None):
        cycles.append(len(qvecs))
        return orig(qvecs, ks)

    batcher._run_batch = counting

    got: dict[int, list] = {}
    errs: list[Exception] = []

    def client(i: int) -> None:
        t, ten = probes[i % 6], ("t0" if i % 2 else "t1")
        try:
            got[i] = store.query(t, top_k=3, metadata_filter={"tenant": ten})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sum(cycles) == 12, "every filtered query entered the facade"
    assert len(cycles) < 12, "concurrent filtered callers coalesced"
    for i, res in got.items():
        assert res == want[(probes[i % 6], "t0" if i % 2 else "t1")]
    # too-selective filters: single-match (falls back, stays exact) and
    # zero-match (returns empty, never invents rows)
    assert (
        store.query(probes[0], top_k=2, metadata_filter={"n": 5}) == want_n5
    )
    assert store.query(probes[0], top_k=3, metadata_filter={"tenant": "zz"}) == []
    store.disable_batched_serving()


def test_store_batched_serving_sees_mutations(spark, tmp_path):
    """Any mutation tears the batcher down; the next query rebuilds over
    the fresh snapshot — batched serving can never return stale results."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "sdb2"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"warm doc number {i}" for i in range(10)])
    store.enable_batched_serving(top_k=3, max_wait_ms=5, resident_max_bytes=0)
    before = store.query("a brand new probe text", top_k=1)
    new_id = store.insert("a brand new probe text")  # invalidates serving
    after = store.query("a brand new probe text", top_k=1)
    assert after[0]["id"] == new_id and after[0]["score"] == 1.0
    assert before[0]["id"] != new_id
    store.disable_batched_serving()


def test_batched_serving_on_versioned_store(spark, tmp_path):
    """The facade over the snapshot table: its df() reads through
    manifests, and a mutation (a snapshot commit) reaches the working
    set (patched, under the default budget) before the next query."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "vdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"versioned doc number {i}" for i in range(12)])
    want = store.query("versioned doc number 3", top_k=2)
    store.enable_batched_serving(top_k=5, max_wait_ms=5)
    assert store.query("versioned doc number 3", top_k=2) == want
    new_id = store.insert("a versioned probe text")
    got = store.query("a versioned probe text", top_k=1)
    assert got[0]["id"] == new_id and got[0]["score"] == 1.0
    store.disable_batched_serving()


def test_store_ann_queries_ride_the_facade(spark, tmp_path):
    """VERDICT r8 item 4: query(ann=True) routes through the ANN-mode
    MicroBatcher — N concurrent ANN callers coalesce into FEWER union
    SRP-probe jobs, every caller gets exactly the per-job ANN path's
    answer, mutations tear the ANN batcher down, and ann+metadata_filter
    is still rejected loudly."""
    import pytest

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.errors import VectoliteError
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "anndb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many(
        [f"ann facade doc number {i}" for i in range(40)],
        [{"k": i} for i in range(40)],
    )
    texts = [f"ann facade doc number {i}" for i in range(5)]
    # per-job ANN path (serving disabled) is the parity target
    want = {t: store.query(t, top_k=3, ann=True) for t in texts}

    store.enable_batched_serving(top_k=5, max_wait_ms=40, resident_max_bytes=0)
    ws = store._ensure_working_set()
    batcher = ws.ann
    cycles: list[int] = []
    exact_cycles: list[int] = []
    orig = batcher._run_batch
    orig_exact = ws.exact._run_batch

    def counting(qvecs, ks=None):
        cycles.append(len(qvecs))
        return orig(qvecs, ks)

    def counting_exact(qvecs, ks=None):
        exact_cycles.append(len(qvecs))
        return orig_exact(qvecs, ks)

    batcher._run_batch = counting
    ws.exact._run_batch = counting_exact

    got: dict[int, list] = {}
    errs: list[Exception] = []

    def client(i: int) -> None:
        try:
            got[i] = store.query(texts[i % 5], top_k=3, ann=True)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sum(cycles) == 8, "every ANN query went through the facade"
    assert len(cycles) < 8, "concurrent ANN callers coalesced into fewer jobs"
    for i, res in got.items():
        assert res == want[texts[i % 5]]
    # ANN traffic never dispatched through the exact-mode batcher
    assert exact_cycles == []
    # ann+filter keeps its loud rejection (never silently batched)
    with pytest.raises(VectoliteError, match="metadata_filter"):
        store.query(texts[0], top_k=3, ann=True, metadata_filter={"k": 1})
    # a mutation tears the ANN batcher down; the next ANN query rebuilds
    # over fresh state and sees the new document
    store.insert("ann facade doc number 999", {"k": 999})
    assert store._working_set is None
    fresh = store.query("ann facade doc number 999", top_k=3, ann=True)
    assert any(r["text"] == "ann facade doc number 999" for r in fresh)
    store.disable_batched_serving()


def test_resident_serving_matches_exact(spark, tmp_path):
    """The resident regime (the sub-ms single-query tier) returns
    identical results to the exact Spark path — scores, order, filters,
    zero-hit filters — and to the per-job ANN path; a write patches the
    working set in place of a rebuild; over budget the store serves
    through the batcher instead of refusing, with the same answers."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "rdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many(
        [f"resident doc number {i}" for i in range(40)],
        [{"tenant": f"t{i % 3}", "k": i} for i in range(40)],
    )
    texts = [f"resident doc number {i}" for i in range(6)]
    want_plain = {t: store.query(t, top_k=5) for t in texts}
    want_filtered = {
        t: store.query(t, top_k=5, metadata_filter={"tenant": "t1"})
        for t in texts
    }
    want_deep = store.query(texts[0], top_k=40)
    want_ann = store.query(texts[0], top_k=3, ann=True)

    store.enable_batched_serving()
    for t in texts:
        assert store.query(t, top_k=5) == want_plain[t]
        assert (
            store.query(t, top_k=5, metadata_filter={"tenant": "t1"})
            == want_filtered[t]
        )
    assert isinstance(store._working_set, _ResidentSet)
    # selective filter with zero hits
    assert store.query(texts[0], top_k=5, metadata_filter={"tenant": "zz"}) == []
    # top_k above the batcher ceiling still ranks the full resident set
    assert store.query(texts[0], top_k=40) == want_deep
    assert store.query(texts[0], top_k=3, ann=True) == want_ann

    # a write patches the resident set; the next query sees fresh rows
    ws = store._working_set
    store.insert("resident doc number 999", {"tenant": "t1"})
    assert isinstance(store._working_set, _ResidentSet)
    assert store._working_set is not ws
    assert store._working_set.version == store._snap.current_version()
    fresh = store.query("resident doc number 999", top_k=3)
    assert any(r["text"] == "resident doc number 999" for r in fresh)

    # over budget: the batcher serves, with the exact path's answers
    store.enable_batched_serving(resident_max_bytes=1)
    got = store.query(texts[0], top_k=5)
    assert isinstance(store._working_set, _BatchedSet)
    store.disable_batched_serving()
    assert got == store.query(texts[0], top_k=5)


def test_serving_regime_choice(spark, tmp_path):
    """enable_batched_serving picks the regime at each working-set
    build: under budget resident, ``resident_max_bytes=0`` micro-batched
    without measuring, over budget micro-batched with answers equal to
    the exact path; a mutation re-measures."""
    import pytest

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.errors import VectoliteError
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "regimedb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many(
        [f"regime doc number {i}" for i in range(30)],
        [{"tenant": f"t{i % 2}"} for i in range(30)],
    )
    qs = [f"regime doc number {i}" for i in range(4)]
    want = {q: store.query(q, top_k=4) for q in qs}
    want_f = {
        q: store.query(q, top_k=4, metadata_filter={"tenant": "t1"}) for q in qs
    }
    with pytest.raises(VectoliteError, match="resident_max_bytes"):
        store.enable_batched_serving(resident_max_bytes=-1)

    def answers():
        return (
            {q: store.query(q, top_k=4) for q in qs},
            {
                q: store.query(q, top_k=4, metadata_filter={"tenant": "t1"})
                for q in qs
            },
        )

    orig_df = store.df
    reads = {"n": 0}

    def counting_df(*version):
        reads["n"] += 1
        return orig_df(*version)

    store.df = counting_df
    try:
        store.enable_batched_serving()  # default 256 MiB budget
        assert answers() == (want, want_f)
        assert isinstance(store._working_set, _ResidentSet)
        assert reads["n"] == 2, "one build: measuring aggregate + collect"

        reads["n"] = 0
        store.enable_batched_serving(resident_max_bytes=0)
        assert answers() == (want, want_f)
        assert isinstance(store._working_set, _BatchedSet)
        assert reads["n"] == 1, "a zero budget never measures"

        reads["n"] = 0
        store.enable_batched_serving(resident_max_bytes=64)  # far too small
        assert answers() == (want, want_f)
        batched = store._working_set
        assert isinstance(batched, _BatchedSet)
        assert reads["n"] == 2, "measured once, then cached"
        # over-budget is sticky until a mutation, which re-measures
        assert answers() == (want, want_f)
        assert store._working_set is batched and reads["n"] == 2
    finally:
        store.df = orig_df
    store.insert("regime doc number 99", {"tenant": "t1"})
    assert store._working_set is None
    store.query(qs[0], top_k=4)
    assert isinstance(store._working_set, _BatchedSet)
    assert store._working_set is not batched
    store.disable_batched_serving()


def test_resident_ann_matches_per_job_path(spark, tmp_path):
    """Resident ``ann=True`` answers equal the per-job
    ``query(ann=True)`` path row for row over several queries, both
    before any persisted index exists (default planes) and with a
    persisted custom-plane index (its planes are authoritative)."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "rannb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many(
        [f"resident ann doc {i}" for i in range(60)],
        [{"k": i} for i in range(60)],
    )
    qs = [f"resident ann doc {i}" for i in range(0, 60, 7)] + ["unrelated probe"]

    # no persisted index: resident answers come from the default planes
    assert not store._fs.exists(store._ann_path())
    store.enable_batched_serving()
    got = {q: store.query(q, top_k=4, ann=True) for q in qs}
    assert isinstance(store._working_set, _ResidentSet)
    assert store._working_set.planes == (16, 6)
    store.disable_batched_serving()
    want = {q: store.query(q, top_k=4, ann=True) for q in qs}  # builds index
    assert got == want
    assert any(got.values()), "probes found candidates"

    # persisted custom-plane index: resident probe uses its planes
    store.build_ann_index(n_tables=4, n_planes=5)
    want = {q: store.query(q, top_k=4, ann=True) for q in qs}
    store.enable_batched_serving()
    got = {q: store.query(q, top_k=4, ann=True) for q in qs}
    assert store._working_set.planes == (4, 5)
    assert got == want
    store.disable_batched_serving()


def test_ann_rebuild_recomputes_resident_planes(spark, tmp_path):
    """Stale-plane guard: the resident set carries SRP bucket codes, so
    ``build_ann_index`` with other planes must drop them — resident
    ``ann=True`` answers afterwards equal the per-job
    ``srp_index_topk`` path under the NEW planes."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "staledb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"stale plane doc {i}" for i in range(60)])
    qs = [f"stale plane doc {i}" for i in range(0, 60, 6)] + ["other probe"]
    store.enable_batched_serving()
    stale = {q: store.query(q, top_k=5, ann=True) for q in qs}
    assert store._working_set.planes == (16, 6)

    store.build_ann_index(n_tables=8, n_planes=4)
    assert store._working_set is None, "rebuild drops the resident bucket codes"
    got = {q: store.query(q, top_k=5, ann=True) for q in qs}
    assert store._working_set.planes == (8, 4)
    store.disable_batched_serving()
    want = {q: store.query(q, top_k=5, ann=True) for q in qs}
    assert got == want
    assert stale != want, "fixture: the two plane sets must answer differently"


@pytest.mark.parametrize(
    "serving_kw,regime",
    [({}, _ResidentSet), ({"resident_max_bytes": 0}, _BatchedSet)],
    ids=["resident", "micro_batched"],
)
def test_resident_clients_never_see_deleted_id_after_delete(
    spark, tmp_path, serving_kw, regime
):
    """4 concurrent serving clients (exact and ANN) run while a
    delete_document lands: no answer to a query that started after the
    delete returned may contain the deleted id, and the clients keep
    getting answers throughout. Runs in both regimes (default budget:
    resident; zero budget: micro-batched)."""
    import sys
    import time

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "deldb"), embed_fn=stub_embedder(dim=8)
    )
    texts = [f"delete race doc {i}" for i in range(30)]
    ids = store.insert_many(texts)
    target_text = texts[7]
    target = ids[7]
    store.enable_batched_serving(**serving_kw)
    assert store.query(target_text, top_k=3)[0]["id"] == target
    assert isinstance(store._working_set, regime)

    deleted_at = [0.0]
    stop = threading.Event()
    log: list[tuple[float, list]] = []
    errs: list[Exception] = []
    lock = threading.Lock()

    def client(c: int) -> None:
        try:
            while not stop.is_set():
                t0 = time.perf_counter()
                res = store.query(target_text, top_k=3, ann=bool(c % 2))
                with lock:
                    log.append((t0, [r["id"] for r in res]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the clients finely
    try:
        for t in threads:
            t.start()
        time.sleep(0.3)
        assert store.delete_document(target)
        deleted_at[0] = time.perf_counter()
        deadline = time.time() + 60
        while time.time() < deadline:
            with lock:
                after = [ids_ for t0, ids_ in log if t0 > deleted_at[0]]
            if len(after) >= 12:
                break
            time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errs
    assert len(after) >= 12, "clients kept answering after the delete"
    assert all(target not in a for a in after)
    before = [a for t0, a in log if t0 < deleted_at[0]]
    assert any(target in a for a in before), "fixture: target served before"
    store.disable_batched_serving()


def test_ann_rebuild_invalidates_ann_batcher(spark, tmp_path):
    """ADVICE r9: build_ann_index() must drop the ANN-mode batcher —
    it resolved (n_tables, n_planes) and its precomputed bucket column
    from the PREVIOUS index state, so a custom-plane rebuild while
    batched serving is live would silently diverge from the per-job
    query(ann=True) path. The rebuild empties the whole serving slot;
    the micro-batched regime is forced with a zero budget."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "rebuilddb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"rebuild doc number {i}" for i in range(30)])
    store.enable_batched_serving(top_k=5, max_wait_ms=5, resident_max_bytes=0)
    q = "rebuild doc number 3"
    store.query(q, top_k=3)             # builds both batchers
    store.query(q, top_k=3, ann=True)   # ANN batcher (default planes)
    assert store._working_set.ann is not None
    store.build_ann_index(n_tables=4, n_planes=3)  # custom planes
    assert store._working_set is None, "ANN batcher dropped on index rebuild"
    # the rebuilt facade mirrors the per-job path under the NEW planes
    got = store.query(q, top_k=3, ann=True)
    assert store._working_set.ann is not None, "served by the rebuilt facade"
    store.disable_batched_serving()
    want = store.query(q, top_k=3, ann=True)
    assert got == want


def test_ann_facade_size_gate(spark, tmp_path, monkeypatch):
    """ADVICE r9: the ANN facade's in-mapper probe scans the working
    set per dispatch cycle — corpora above _ANN_FACADE_MAX_ROWS must
    keep the per-job persisted-index path instead of regressing to a
    per-cycle full scan. The gate is sticky until the next teardown."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "gatedb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"gate doc number {i}" for i in range(20)])
    monkeypatch.setattr(store_mod, "_ANN_FACADE_MAX_ROWS", 10)
    store.enable_batched_serving(top_k=5, max_wait_ms=5, resident_max_bytes=0)
    q = "gate doc number 3"
    # falls to the per-job path, whose build-if-absent index build
    # empties the serving slot
    res = store.query(q, top_k=3, ann=True)
    assert res == store.query(q, top_k=3, ann=True)  # rebuilt, still gated
    gated = store._working_set
    assert isinstance(gated, _BatchedSet) and gated.ann is None
    assert gated.exact is not None, "exact queries still batch"
    assert res == store.query(q, top_k=3, ann=True)
    assert store._working_set is gated, "the gate is sticky"
    store.disable_batched_serving()
    assert res == store.query(q, top_k=3, ann=True)
    # under the cap the batcher builds (and carries the bucket column)
    monkeypatch.setattr(store_mod, "_ANN_FACADE_MAX_ROWS", 50)
    store.enable_batched_serving(top_k=5, max_wait_ms=5, resident_max_bytes=0)
    assert res == store.query(q, top_k=3, ann=True)
    assert store._working_set.ann is not None
    store.disable_batched_serving()


def test_resident_guard_measures_payload(spark, tmp_path):
    """VERDICT r9 item 4: the resident budget measures the real
    text/metadata payload — KB-scale texts that the old per-row slack
    formula waved through must stay off the driver (served by the
    batcher instead, same answers); compact rows under the same budget
    must go resident. Also covers the cold-dim-cache path: the
    aggregate measures dim itself, so a non-empty store is never
    unguarded."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    dim = 8
    store = SparkVectolite(
        spark, str(tmp_path / "measdb"), embed_fn=stub_embedder(dim=dim)
    )
    n = 32
    store.insert_many(["resident payload " + "x" * 4000 for _ in range(n)])
    # old formula: n*(dim*4+256) = 9216 bytes -> would have passed this
    # budget; measured: >= 2*4000*n chars alone blows it
    budget = 64 * 1024
    assert n * (dim * 4 + 256) < budget
    want = store.query("resident payload", top_k=3)
    store._dim_cache = None  # cold dim cache must not skip the guard
    store.enable_batched_serving(resident_max_bytes=budget)
    assert store.query("resident payload", top_k=3) == want
    assert isinstance(store._working_set, _BatchedSet)
    store.disable_batched_serving()
    # same row count, compact payload: passes the same budget and serves
    store2 = SparkVectolite(
        spark, str(tmp_path / "measdb2"), embed_fn=stub_embedder(dim=dim)
    )
    store2.insert_many([f"compact doc number {i}" for i in range(n)])
    want = store2.query("compact doc number 3", top_k=3)
    store2.enable_batched_serving(resident_max_bytes=budget)
    assert store2.query("compact doc number 3", top_k=3) == want
    assert isinstance(store2._working_set, _ResidentSet)
    store2.disable_batched_serving()


def test_resident_guard_measures_char_width(spark, tmp_path):
    """VERDICT r10 item 6: the byte estimate must be width-aware — the
    old flat 2 B/char term modeled mostly-ASCII text, but CPython
    stores BMP CJK at 2 B/char (PEP 393) while each such char is 3
    UTF-8 octets, so a CJK-heavy corpus could pass the budget at ~2x.
    The estimate charges ``chars + octets`` (octet_length is a per-char
    upper bound on PEP-393 width): a CJK corpus that the old formula
    waved through must stay micro-batched, while a Latin corpus with
    the SAME character count under the same budget goes resident."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    dim, n, text_chars = 8, 32, 2000
    base = n * (dim * 8 + 144)
    chars = n * text_chars
    # budget between the old estimate (base + 2*chars — CJK slips
    # through) and the new one (base + chars + 3*chars for 3-octet CJK)
    budget = base + 3 * chars
    assert base + 2 * chars < budget < base + 4 * chars

    cjk = SparkVectolite(
        spark, str(tmp_path / "cjkdb"), embed_fn=stub_embedder(dim=dim)
    )
    cjk.insert_many(["数据" * (text_chars // 2) for _ in range(n)])
    want = cjk.query("数据", top_k=3)
    cjk.enable_batched_serving(resident_max_bytes=budget)
    assert cjk.query("数据", top_k=3) == want
    assert isinstance(cjk._working_set, _BatchedSet)
    cjk.disable_batched_serving()

    latin = SparkVectolite(
        spark, str(tmp_path / "latindb"), embed_fn=stub_embedder(dim=dim)
    )
    latin.insert_many(["da" * (text_chars // 2) for _ in range(n)])
    want = latin.query("da", top_k=3)
    latin.enable_batched_serving(resident_max_bytes=budget)
    assert latin.query("da", top_k=3) == want
    assert isinstance(latin._working_set, _ResidentSet)  # not fallback
    latin.disable_batched_serving()


@pytest.mark.parametrize(
    "serving_kw,regime",
    [({}, _ResidentSet), ({"resident_max_bytes": 0}, _BatchedSet)],
    ids=["resident", "micro_batched"],
)
def test_resident_collect_generation_fence(
    spark, tmp_path, serving_kw, regime, monkeypatch
):
    """ADVICE r9: the working set is collected (or cached) OUTSIDE the
    serving lock — a mutation landing mid-build must prevent the stale
    snapshot from being published. The fence is the serving generation
    counter: simulate the race by invalidating as the build reads the
    serving frame (after the measuring aggregate, when there is one),
    and assert the build returns None (caller falls back for this
    query) without publishing, and releases what it built."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "fencedb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"fence doc number {i}" for i in range(10)])
    store.enable_batched_serving(**serving_kw)
    frame_read = 2 if regime is _ResidentSet else 1  # the size agg reads first

    orig_df = store.df
    fired = {"n": 0}

    def racing_df(*version):
        df = orig_df(*version)
        fired["n"] += 1
        if fired["n"] == frame_read:
            store._invalidate_serving()  # concurrent mutation lands here
        return df

    closed: list[object] = []
    orig_close = regime.close

    def recording_close(ws):
        closed.append(ws)
        orig_close(ws)

    monkeypatch.setattr(regime, "close", recording_close)
    store.df = racing_df
    try:
        assert store._ensure_working_set() is None
        assert store._working_set is None, "stale snapshot must not publish"
        assert len(closed) == 1 and isinstance(closed[0], regime)
    finally:
        store.df = orig_df
    # next query rebuilds cleanly over fresh state and serves from the set
    want = store.query("fence doc number 3", top_k=3)
    assert isinstance(store._working_set, regime)
    assert store.query("fence doc number 3", top_k=3) == want
    store.disable_batched_serving()


def test_resident_srp_probe_matches_the_micro_batched_mapper():
    """The array probe over a resident set (``_ResidentSet.query`` with
    ``ann=True``) and the micro-batched regime's mapper over the same
    rows give the same answer: ids, scores, order and payload — pure
    numpy/pandas, no Spark session needed."""
    import json

    import numpy as np
    import pandas as pd

    from vectolite_spark._pandas_udfs import make_srp_serving_mapper
    from vectolite_spark.store import _hit, _Rows

    rng = np.random.RandomState(3)
    n, d, planes = 300, 16, (4, 5)
    vecs = rng.randn(n, d).astype(np.float32)
    vecs[5] = 0.0
    vecs[20:25] = vecs[7]  # score ties, broken by id
    ids = rng.permutation(n).astype(np.int64)
    texts = np.array([f"t{i}" for i in range(n)], dtype=object)
    metas = np.array([json.dumps({"k": i}) for i in range(n)], dtype=object)
    ws = _ResidentSet.build(
        _Rows(ids, vecs.astype(np.float64), texts, metas),
        np.full(n, "d0", dtype=object), planes, 0, 0,
    )
    frame = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": list(vecs),
            "text": texts,
            "metadata": metas,
            "srp_buckets": list(ws.codes),
        }
    )
    qvecs = [vecs[7], vecs[50], vecs[5], rng.randn(d)]
    batch = next(
        make_srp_serving_mapper(range(len(qvecs)), qvecs, 6, *planes)(
            iter([frame])
        )
    )
    assert len(batch), "probe produced candidates"
    for qi, q in enumerate(qvecs):
        rows = batch[batch["query_id"] == qi].sort_values("rn")
        assert rows["rn"].tolist() == list(range(1, len(rows) + 1))
        want = [
            _hit(*r)
            for r in zip(rows["vec_id"], rows["score"], rows["text"], rows["metadata"])
        ]
        assert ws.query(q, 6, None, ann=True) == want


def test_resident_build_single_flight(spark, tmp_path):
    """r10 review: moving the resident collect outside the serving lock
    must not let N concurrent first queries each run their own
    full-corpus collect — builds are single-flight, so the table is
    read exactly once (one measuring aggregate + one collect)."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "sfdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"singleflight doc {i}" for i in range(20)])
    store.enable_batched_serving()
    store.query("singleflight doc 0", top_k=3)  # warm dim cache + build
    store._invalidate_serving()  # drop the resident set, keep dim cache
    orig_df = store.df
    calls = {"n": 0}

    def counting_df(*version):
        calls["n"] += 1
        return orig_df(*version)

    store.df = counting_df
    try:
        errs: list[Exception] = []

        def client(i):
            try:
                store.query(f"singleflight doc {i % 5}", top_k=3)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        assert calls["n"] == 2, (
            f"expected ONE build (agg + collect = 2 df() reads), saw {calls['n']}"
        )
    finally:
        store.df = orig_df
        store.disable_batched_serving()


def test_ann_batcher_shares_exact_cache(spark, tmp_path):
    """r10 review: the ANN batcher rides the exact facade's cached
    working set (same plane parameters) instead of persisting a second
    full copy — one cached partition for both modes — and still matches
    the per-job path."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "sharedb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"share doc number {i}" for i in range(30)])
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    n_cached = persisted.size()
    store.enable_batched_serving(top_k=5, max_wait_ms=5, resident_max_bytes=0)
    q = "share doc number 3"
    store.query(q, top_k=3)  # builds the one working set
    ws = store._working_set
    assert isinstance(ws, _BatchedSet) and ws.base.is_cached
    assert "srp_buckets" in ws.base.columns
    assert ws.ann is not None
    got = store.query(q, top_k=3, ann=True)
    assert store._working_set is ws, "no second build"
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached + 1
    ), "no second cached copy"
    store.disable_batched_serving()
    assert got == store.query(q, top_k=3, ann=True)


def test_micro_batched_ann_after_exact_reads_no_table(spark, tmp_path):
    """In the micro-batched regime one build serves both modes: the
    first ``ann=True`` query after the first exact query reads the
    table (``df()``) zero times — no row-count job, no second cache."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "onebuild"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"one build doc {i}" for i in range(30)])
    q = "one build doc 4"
    want = store.query(q, top_k=3, ann=True)  # per-job; builds the index
    store.enable_batched_serving(top_k=5, max_wait_ms=5, resident_max_bytes=0)
    store.query(q, top_k=3)  # first exact query: the one build
    orig_df = store.df
    reads = {"n": 0}

    def counting_df():
        reads["n"] += 1
        return orig_df()

    store.df = counting_df
    try:
        got = store.query(q, top_k=3, ann=True)
    finally:
        store.df = orig_df
    assert reads["n"] == 0, f"ANN query read the table {reads['n']} times"
    assert got == want
    store.disable_batched_serving()


def test_failed_batched_build_leaves_nothing_cached(spark, tmp_path):
    """A micro-batched build whose cache-materializing ``count()`` fails
    must unpersist the partition it cached: the JVM's persistent RDDs
    are the same after the failure as before, nothing is published, and
    the next query, with the fault gone, builds and serves normally."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "leakdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert_many([f"leak doc number {i}" for i in range(10)])
    q = "leak doc number 3"
    want = store.query(q, top_k=3)
    store.enable_batched_serving(top_k=5, resident_max_bytes=0)
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keySet())

    orig_frame = store._serving_frame
    store._serving_frame = lambda planes: orig_frame(planes).withColumn(
        "boom", F.raise_error(F.lit("injected build failure"))
    )
    before = persisted()
    try:
        with pytest.raises(Exception, match="injected build failure"):
            store.query(q, top_k=3)
    finally:
        del store._serving_frame
    assert persisted() == before
    assert store._working_set is None
    assert store.query(q, top_k=3) == want
    assert isinstance(store._working_set, _BatchedSet)
    store.disable_batched_serving()
    assert persisted() == before


def _by_id(ws) -> dict:
    """A resident set's contents in id order (row order is the scan's)."""
    import numpy as np

    o = np.argsort(ws.ids, kind="stable")
    return {
        "ids": ws.ids[o].tolist(),
        "E": ws.E[o] if len(o) else ws.E.reshape(0, -1),
        "norms": ws.norms[o],
        "texts": ws.texts[o].tolist(),
        "metas": ws.metas[o].tolist(),
        "parsed": [ws.parsed[i] for i in o],
        "codes": ws.codes[o],
        "dirs": ws.dirs[o].tolist(),
        "payload": ws.payload,
        "planes": ws.planes,
        "version": ws.version,
    }


def _assert_patched_equals_rebuild(store, plain) -> None:
    """The published set equals a fresh build of the current version
    bit for bit, and answers exact, filtered and ``ann=True`` queries as
    the per-job paths of ``plain`` (a second, non-serving handle on the
    same table) do."""
    import numpy as np

    ws = store._working_set
    assert isinstance(ws, _ResidentSet), "the write patched, not tore down"
    assert ws.version == store._snap.current_version()
    fresh = store._build_working_set(store._serving_cfg)
    got, want = _by_id(ws), _by_id(fresh)
    for key, value in want.items():
        if isinstance(value, np.ndarray):
            assert value.dtype == got[key].dtype, key
            assert np.array_equal(got[key], value), key
        else:
            assert got[key] == value, key
    assert ws.est == fresh.est
    for q in ("patch doc 3", "patch doc 17", "a fresh upsert row"):
        assert store.query(q, top_k=5) == plain.query(q, top_k=5)
        assert store.query(
            q, top_k=5, metadata_filter={"tenant": "t1"}
        ) == plain.query(q, top_k=5, metadata_filter={"tenant": "t1"})
        assert store.query(q, top_k=4, ann=True) == plain.query(
            q, top_k=4, ann=True
        )
    assert store._working_set is ws, "queries served from the patched set"


def test_patched_resident_set_equals_a_rebuild(spark, tmp_path):
    """Every write through a resident-serving store patches the working
    set instead of dropping it, and after each step of a seeded write
    sequence — insert_many, append_dataframe, delete_document of a live
    and of an absent id, upsert, compact, vacuum, rollback — the set
    holds exactly what a fresh build of the current version holds (ids,
    vectors, norms, texts, metadata, bucket codes, dir tags) and answers
    as the per-job paths do. Rollback is the one write that tears the
    set down; the rebuilt set then patches again."""
    import numpy as np

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    rng = np.random.default_rng(11)
    embed = stub_embedder(dim=8)
    path = str(tmp_path / "patchdb")
    store = SparkVectolite(spark, path, embed_fn=embed)
    plain = SparkVectolite(spark, path, embed_fn=embed)
    store.enable_batched_serving()
    empty = store._working_set
    assert isinstance(empty, _ResidentSet) and empty.version == -1
    assert store.query("patch doc 3", top_k=3) == []

    ids = store.insert_many(
        [f"patch doc {i}" for i in range(30)],
        [{"tenant": f"t{i % 3}", "k": int(rng.integers(100))} for i in range(30)],
    )
    _assert_patched_equals_rebuild(store, plain)

    vecs = embed([f"patch doc {i}" for i in range(30, 40)])
    frame = spark.createDataFrame(
        [
            (f"patch doc {i}", f'{{"tenant": "t{i % 3}"}}', v)
            for i, v in zip(range(30, 40), vecs)
        ],
        "text string, metadata string, embedding array<float>",
    )
    assert store.append_dataframe(frame) == 10
    _assert_patched_equals_rebuild(store, plain)

    victim = int(rng.choice(ids))
    assert store.delete_document(victim) is True
    _assert_patched_equals_rebuild(store, plain)
    ws = store._working_set
    assert store.delete_document(victim) is False
    assert store._working_set is ws, "an absent id commits nothing"

    live = sorted(set(ids) - {victim})
    target = int(rng.choice(live))
    updates = spark.createDataFrame(
        [
            (key, text, '{"tenant": "t1"}', embed([text])[0])
            for key, text in (
                (target, "a fresh upsert row"),
                (10_000, "an inserted upsert row"),
            )
        ],
        "id long, text string, metadata string, embedding array<float>",
    )
    assert store.upsert(updates) == {"updated": 1, "inserted": 1}
    _assert_patched_equals_rebuild(store, plain)
    mid = store._snap.current_version()

    assert store.compact() == 40
    _assert_patched_equals_rebuild(store, plain)
    ws = store._working_set
    store.vacuum(keep_versions=2)
    assert store._working_set is ws, "vacuum commits nothing"
    store.insert_many(["patch doc after compact"], [{"tenant": "t1"}])
    _assert_patched_equals_rebuild(store, plain)

    store.rollback(mid)
    assert store._working_set is None, "rollback tears the set down"
    store.query("patch doc 3", top_k=3)
    _assert_patched_equals_rebuild(store, plain)
    assert store.delete_document(target) is True
    _assert_patched_equals_rebuild(store, plain)
    store.disable_batched_serving()


@pytest.mark.parametrize(
    "case", ["duplicate ids", "dimension mismatch", "non-finite"]
)
def test_failed_upsert_leaves_resident_set_unchanged(spark, tmp_path, case):
    """A rejected upsert on a resident-serving store raises, commits no
    version and leaves the published working set as it was."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "failpatch"), embed_fn=stub_embedder(dim=4)
    )
    store.enable_batched_serving()
    store.insert_many(["one doc", "two doc", "three doc"])
    ws, version = store._working_set, store._snap.current_version()
    ok = [0.5, 0.5, 0.0, 0.0]
    second = {
        "duplicate ids": (1, "one v3", None, ok),
        "dimension mismatch": (7, "wrong dim", None, [0.1] * 3),
        "non-finite": (7, "nan vec", None, [0.0, float("nan"), 0.0, 0.0]),
    }[case]
    updates = spark.createDataFrame(
        [(1, "one v2", None, ok), second],
        "id long, text string, metadata string, embedding array<float>",
    )
    with pytest.raises(Exception, match=case):
        store.upsert(updates)
    assert store._snap.current_version() == version
    assert store._working_set is ws and ws.version == version
    assert store.query("one doc", top_k=1)[0]["text"] == "one doc"
    store.disable_batched_serving()


def test_delete_after_another_handles_commit_probes_in_spark(
    spark, tmp_path, count_jobs
):
    """A commit through a second handle leaves the first handle's
    resident set a version behind: its delete must not trust the set
    (a stale probe would commit against an old version and raise
    SnapshotConflict), so it probes in Spark, commits, and tears the set
    down; the next query rebuilds over both commits."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    embed = stub_embedder(dim=8)
    path = str(tmp_path / "twohandles")
    first = SparkVectolite(spark, path, embed_fn=embed)
    first.enable_batched_serving()
    ids = first.insert_many([f"two handle doc {i}" for i in range(12)])
    second = SparkVectolite(spark, path, embed_fn=embed)
    second.insert_many(["written by the second handle"])
    assert first._working_set.version == first._snap.current_version() - 1
    with count_jobs() as jobs:
        assert first.delete_document(ids[4]) is True
    assert len(jobs) >= 1, "the stale set was not asked"
    assert first._working_set is None
    got = first.query("written by the second handle", top_k=2)
    assert got[0]["text"] == "written by the second handle"
    assert ids[4] not in [r["id"] for r in first.query("two handle doc 4", top_k=12)]
    assert isinstance(first._working_set, _ResidentSet)
    assert first._working_set.version == first._snap.current_version()
    first.disable_batched_serving()


def test_append_over_budget_switches_to_micro_batched(spark, tmp_path):
    """An append that would push the resident set past
    ``resident_max_bytes`` tears it down without collecting the new
    rows; the next query re-measures and serves micro-batched, with the
    per-job answers."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    embed = stub_embedder(dim=8)
    store = SparkVectolite(spark, str(tmp_path / "budgetdb"), embed_fn=embed)
    store.insert_many([f"budget doc {i}" for i in range(10)])
    store.enable_batched_serving()
    store.query("budget doc 1", top_k=2)
    ws = store._working_set
    assert isinstance(ws, _ResidentSet)
    store.enable_batched_serving(resident_max_bytes=ws.est + 500)
    store.query("budget doc 1", top_k=2)
    assert isinstance(store._working_set, _ResidentSet)
    big = spark.createDataFrame(
        [(f"big doc {i} " + "x" * 400, "{}", embed([f"big {i}"])[0]) for i in range(4)],
        "text string, metadata string, embedding array<float>",
    )
    collected = []
    orig = store_mod._collect
    store_mod._collect = lambda df, *extra: collected.append(df) or orig(df, *extra)
    try:
        assert store.append_dataframe(big) == 4
    finally:
        store_mod._collect = orig
    assert collected == [], "an over-budget append never collects"
    assert store._working_set is None
    got = store.query("budget doc 1", top_k=3)
    assert isinstance(store._working_set, _BatchedSet)
    store.disable_batched_serving()
    assert got == store.query("budget doc 1", top_k=3)
