"""SparkVectolite facade: reference API semantics (SURVEY.md §3.3, §2.1-2.4)."""

from __future__ import annotations

import pytest

from vectolite_spark.embed import stub_embedder
from vectolite_spark.errors import VectoliteError
from vectolite_spark.store import SparkVectolite, _ResidentSet


@pytest.fixture(params=["flat", "versioned"])
def store(spark, tmp_path, request):
    """Every facade test runs on both ways to open a store, which must
    behave identically: the default constructor (id ``flat``, kept from
    when the default was a flat parquet directory) and the legacy
    ``versioned=True`` keyword perfbench still passes. Both open the
    same snapshot table."""
    kw = {"versioned": True} if request.param == "versioned" else {}
    return SparkVectolite(
        spark, str(tmp_path / "db"), embed_fn=stub_embedder(dim=8), **kw
    )


def test_insert_returns_sequential_ids(store):
    assert store.insert("hello world") == 1
    assert store.insert("second doc", {"k": 1}) == 2
    assert store.insert_many(["a doc", "b doc"]) == [3, 4]
    assert store.count_documents() == 4


def test_insert_rejects_empty_text(store):
    # vectolite.py:97-98 (verified reference behavior)
    with pytest.raises(VectoliteError):
        store.insert("")
    with pytest.raises(VectoliteError):
        store.insert("   \n\t ")


def test_insert_without_embedder_raises(spark, tmp_path):
    s = SparkVectolite(spark, str(tmp_path / "db2"))
    with pytest.raises(VectoliteError):
        s.insert("text")


def test_metadata_json_roundtrip(store):
    meta = {"nested": {"a": [1, 2, {"b": None}]}, "flag": True, "x": 1.5}
    i = store.insert("with metadata", meta)
    assert store.get_document(i)["metadata"] == meta
    # None metadata -> {} on read (vectolite.py:168)
    j = store.insert("no metadata")
    assert store.get_document(j)["metadata"] == {}


def test_query_semantics(store):
    store.insert_many(["alpha beta", "gamma delta", "epsilon zeta"])
    res = store.query("alpha beta", top_k=2)
    assert len(res) == 2
    assert res[0]["text"] == "alpha beta"  # stub embedder is deterministic per text
    assert res[0]["score"] == pytest.approx(1.0)
    assert set(res[0]) == {"id", "score", "text", "metadata"}
    with pytest.raises(VectoliteError):
        store.query("", top_k=2)
    with pytest.raises(VectoliteError):
        store.query("x", top_k=0)


def test_query_empty_store_returns_empty(store):
    assert store.query("anything", top_k=3) == []


def test_delete_document(store):
    i = store.insert("to delete")
    j = store.insert("to keep")
    assert store.delete_document(i) is True
    assert store.delete_document(i) is False  # already gone -> found=False
    assert store.get_document(i) is None
    assert store.get_document(j)["text"] == "to keep"
    # ids keep increasing past deletions (autoincrement contract)
    assert store.insert("new doc") == j + 1


def test_list_documents_pagination_and_truncation(store):
    texts = [f"doc {i} " + "x" * 300 for i in range(10)]
    store.insert_many(texts)
    page = store.list_documents(limit=3, offset=2)
    assert [d["id"] for d in page] == [8, 7, 6]  # created_at desc, id desc tie-break
    assert all(d["text"].endswith("...") and len(d["text"]) == 203 for d in page)
    assert all(d["full_text_length"] > 300 for d in page)
    no_text = store.list_documents(limit=2, include_text=False)
    assert "text" not in no_text[0]


def test_metadata_filtered_query(store):
    store.insert("alpha text", {"src": "a", "v": 1})
    store.insert("beta text", {"src": "b", "v": 1})
    store.insert("alpha text variant", {"src": "a", "v": 2})
    res = store.query("alpha text", top_k=5, metadata_filter={"src": "a"})
    assert {r["metadata"]["src"] for r in res} == {"a"}
    assert len(res) == 2
    # multiple predicates AND together
    res2 = store.query("alpha text", top_k=5, metadata_filter={"src": "a", "v": 2})
    assert len(res2) == 1 and res2[0]["metadata"]["v"] == 2
    # no matches -> empty, not an error
    assert store.query("alpha text", top_k=5, metadata_filter={"src": "zzz"}) == []


def _live_data_files(store):
    """Parquet files the CURRENT table state reads."""
    import glob

    dirs = store._snap._read_manifest(store._snap.current_version())["dirs"]
    return sum(len(glob.glob(d + "/*.parquet")) for d in dirs)


def test_compact_merges_small_files(store):
    for i in range(6):  # one file per append
        store.insert(f"doc number {i}")
    files_before = _live_data_files(store)
    n = store.compact(target_files=1)
    files_after = _live_data_files(store)
    assert n == 6
    assert files_after < files_before and files_after == 1
    # data intact and queryable after compaction
    assert store.count_documents() == 6
    assert store.query("doc number 3", top_k=1)[0]["text"] == "doc number 3"
    # id sequence continues after compaction
    assert store.insert("post compact") == 7


def test_metadata_filter_typed_values(store):
    store.insert("flagged doc", {"ok": True, "score": 1.5, "n": 3})
    store.insert("other doc", {"ok": False, "score": 2.0, "n": 4})
    # booleans compare against JSON 'true'/'false', not Python 'True'
    res = store.query("flagged doc", top_k=5, metadata_filter={"ok": True})
    assert len(res) == 1 and res[0]["metadata"]["ok"] is True
    assert len(store.query("doc", top_k=5, metadata_filter={"score": 1.5})) == 1
    assert len(store.query("doc", top_k=5, metadata_filter={"n": 4})) == 1
    # None / non-scalar values are rejected loudly, not silently empty
    with pytest.raises(VectoliteError):
        store.query("doc", top_k=5, metadata_filter={"ok": None})
    with pytest.raises(VectoliteError):
        store.query("doc", top_k=5, metadata_filter={"ok": [1, 2]})


def test_stats(store):
    store.insert_many(["a b c", "d e f"])
    st = store.stats()
    assert st["document_count"] == 2
    assert st["db_size_mb"] >= 0.0


def test_upsert_replaces_and_inserts(store, spark):
    store.insert_many(["alpha doc", "beta doc", "gamma doc"])
    updates = spark.createDataFrame(
        [
            (2, "beta doc v2", '{"rev": 2}', [0.5] * 8),  # replaces id 2
            (9, "delta doc", None, [0.25] * 8),  # new id -> insert
        ],
        "id long, text string, metadata string, embedding array<float>",
    )
    out = store.upsert(updates)
    assert out == {"updated": 1, "inserted": 1}
    assert store.count_documents() == 4
    got = store.get_document(2)
    assert got["text"] == "beta doc v2"
    assert got["metadata"] == {"rev": 2}
    assert store.get_document(9)["text"] == "delta doc"
    assert store.get_document(1)["text"] == "alpha doc"  # untouched row kept


def test_upsert_validates_dimension(store, spark):
    store.insert("seed doc")
    bad = spark.createDataFrame(
        [(1, "wrong dim", None, [0.1] * 4)],
        "id long, text string, metadata string, embedding array<float>",
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        store.upsert(bad)
    # failed merge must not clobber the store
    assert store.count_documents() == 1
    assert store.get_document(1)["text"] == "seed doc"


def test_upsert_rejects_duplicate_update_ids(store, spark):
    store.insert("seed doc")
    dup = spark.createDataFrame(
        [(5, "first", None, [0.1] * 8), (5, "second", None, [0.2] * 8)],
        "id long, text string, metadata string, embedding array<float>",
    )
    with pytest.raises(VectoliteError, match="duplicate ids"):
        store.upsert(dup)
    assert store.count_documents() == 1  # nothing applied


UPDATE_SCHEMA = "id long, text string, metadata string, embedding array<float>"


@pytest.mark.parametrize(
    "case", ["duplicate ids", "dimension mismatch", "non-finite"]
)
def test_failed_upsert_leaves_nothing_behind(spark, tmp_path, case):
    """A rejected upsert raises, commits no version and leaves the data
    dir listing as it was: no rewrite of the dir holding id 1 and no
    half-written (or written, then found duplicate) update dir."""
    s = SparkVectolite(spark, str(tmp_path / "db"), embed_fn=stub_embedder(dim=4))
    s.insert_many(["one doc", "two doc"])
    s.insert_many(["three doc"])
    ok = [0.5, 0.5, 0.0, 0.0]
    second = {
        "duplicate ids": (1, "one v3", None, ok),
        "dimension mismatch": (7, "wrong dim", None, [0.1] * 3),
        "non-finite": (7, "nan vec", None, [0.0, float("nan"), 0.0, 0.0]),
    }[case]
    updates = spark.createDataFrame([(1, "one v2", None, ok), second], UPDATE_SCHEMA)
    data = s.path + "/data"
    listing, version = sorted(s._fs.list_names(data)), s._snap.current_version()
    with pytest.raises(Exception, match=case):
        s.upsert(updates)
    assert sorted(s._fs.list_names(data)) == listing
    assert s._snap.current_version() == version
    assert s.get_document(1)["text"] == "one doc"


def test_deleted_id_is_never_reused(store):
    """AUTOINCREMENT semantics (the reference's SQLite ids): deleting the
    highest id does not hand it out again."""
    assert store.insert_many(["a doc", "b doc", "c doc"]) == [1, 2, 3]
    assert store.delete_document(3) is True
    assert store.insert("d doc") == 4


def test_small_writes_submit_a_fixed_handful_of_jobs(spark, tmp_path, count_jobs):
    """Each small write is a fixed number of Spark jobs, whatever the
    dir count: the caller's update frame is evaluated once, a delete
    probes once, compact counts inside its write, and an absent id costs
    a probe and nothing else. With a resident working set the set
    answers the probes: a delete is its rewrite alone, an absent id and
    a count cost nothing, and a read after any write runs no job."""
    s = SparkVectolite(spark, str(tmp_path / "db"), embed_fn=stub_embedder(dim=8))
    for d in range(3):  # three commit dirs, ids 1..9
        s.insert_many([f"doc {d} {j}" for j in range(3)])
    updates = spark.createDataFrame(
        [(2, "doc two v2", None, [0.5] * 8), (20, "doc twenty", None, [0.25] * 8)],
        UPDATE_SCHEMA,
    )
    with count_jobs() as jobs:
        assert s.upsert(updates) == {"updated": 1, "inserted": 1}
    assert len(jobs) <= 8, f"upsert ran {len(jobs)} jobs"
    # the upsert raised the max id and kept the stored dim: no rescan,
    # no dim probe, only the append
    with count_jobs() as jobs:
        assert s.insert_many(["after upsert"]) == [21]
    assert len(jobs) <= 1, f"insert after upsert ran {len(jobs)} jobs"
    with count_jobs() as jobs:
        assert s.delete_document(5) is True
    assert len(jobs) <= 3, f"delete ran {len(jobs)} jobs"

    s.build_text_index()
    s.build_ann_index()
    s.enable_batched_serving()
    assert s.query("doc 2 0", top_k=1)[0]["id"] == 7
    working_set, version = s._working_set, s._snap.current_version()
    with count_jobs() as jobs:
        assert s.delete_document(999) is False
    assert len(jobs) <= 2, f"absent delete ran {len(jobs)} jobs"
    assert s._snap.current_version() == version
    assert s._has_text_index() and s._index_ready(s._ann_path())
    assert s._working_set is working_set

    with count_jobs() as jobs:
        assert s.compact() == 10
    assert len(jobs) <= 3, f"compact ran {len(jobs)} jobs"
    assert s.count_documents() == 10

    # resident serving: the working set answers the delete and upsert
    # probes, every write patches it, and a read after a write runs none
    r = SparkVectolite(spark, str(tmp_path / "rdb"), embed_fn=stub_embedder(dim=8))
    r.enable_batched_serving()  # empty store: an empty set, at once
    for d in range(3):
        r.insert_many([f"doc {d} {j}" for j in range(3)])

    def read_runs_no_job(text: str, want_id: int) -> None:
        with count_jobs() as jobs:
            assert r.query(text, top_k=1)[0]["id"] == want_id
        assert jobs == [], f"read after a write ran {len(jobs)} jobs"

    read_runs_no_job("doc 2 0", 7)
    with count_jobs() as jobs:
        assert r.insert_many(["resident insert"]) == [10]
    assert len(jobs) <= 1, f"insert ran {len(jobs)} jobs"
    read_runs_no_job("resident insert", 10)
    with count_jobs() as jobs:
        assert r.delete_document(5) is True
    assert len(jobs) <= 1, f"delete ran {len(jobs)} jobs"
    read_runs_no_job("doc 1 2", 6)
    with count_jobs() as jobs:
        assert r.delete_document(999) is False
    assert jobs == [], f"absent delete ran {len(jobs)} jobs"
    with count_jobs() as jobs:
        assert r.upsert(updates) == {"updated": 1, "inserted": 1}
    assert len(jobs) <= 3, f"upsert ran {len(jobs)} jobs"
    read_runs_no_job("doc 0 2", 3)
    with count_jobs() as jobs:
        assert r.count_documents() == 10
    assert jobs == [], f"count ran {len(jobs)} jobs"
    with count_jobs() as jobs:
        assert r.compact() == 10
    assert len(jobs) <= 3, f"compact ran {len(jobs)} jobs"
    read_runs_no_job("doc 0 0", 1)
    assert isinstance(r._working_set, _ResidentSet)
    r.disable_batched_serving()


def test_dimension_is_still_validated_after_writes(store, spark):
    """The stored dimension is probed once and kept across writes, which
    are validated against it and cannot change it; a wrong-dimension
    write after an upsert still raises. Deleting every row drops it, so
    an emptied store takes a new dimension, as a fresh one does."""
    store.insert_many(["one doc", "two doc"])
    store.upsert(spark.createDataFrame([(2, "two v2", None, [0.5] * 8)], UPDATE_SCHEMA))
    with pytest.raises(VectoliteError, match="dimension mismatch"):
        store.insert_many(["short"], embeddings=[[0.1] * 4])
    bad = spark.createDataFrame([(9, "short", None, [0.1] * 4)], UPDATE_SCHEMA)
    with pytest.raises(Exception, match="dimension mismatch"):
        store.upsert(bad)
    assert store.count_documents() == 2
    assert store.delete_document(1) and store.delete_document(2)
    assert store.insert_many(["wide"], embeddings=[[0.1] * 4]) == [3]


def test_hybrid_query_fuses_lexical_and_vector(spark, tmp_path):
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    db = SparkVectolite(
        spark, str(tmp_path / "hybrid_db"), embed_fn=stub_embedder(dim=16)
    )
    db.insert_many(
        [
            "spark engine tuning guide",      # lexical match for the query
            "cooking pasta at home",          # neither
            "spark engine spark engine",      # strongest lexical match
        ]
    )
    out = db.hybrid_query("spark engine", top_k=3)
    assert [type(r["score"]) for r in out] == [float] * len(out)
    ids = [r["id"] for r in out]
    # both spark docs must outrank the unrelated one; scores descend
    assert ids.index(3) < ids.index(2) and ids.index(1) < ids.index(2)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    # exact self-query via the stub embedder puts doc 3's text closest to
    # itself lexically AND its own embedding -> must win overall
    out1 = db.hybrid_query("spark engine spark engine", top_k=1)
    assert out1[0]["id"] == 3


def test_versioned_time_travel_roundtrip(spark, tmp_path):
    """VERDICT r2 item 6: delete/upsert through the facade are snapshot
    commits — every prior state stays readable, rollback restores it."""
    db = SparkVectolite(spark, str(tmp_path / "vdb"), embed_fn=stub_embedder(dim=8))
    db.insert_many(["one doc", "two doc", "three doc"])
    assert db.delete_document(2) is True
    assert db.count_documents() == 2
    # time travel: the pre-delete version still sees all three rows
    assert db.read_version(0).count() == 3
    ops = [h["op"] for h in db.history()]
    assert ops == ["delete", "append"]
    # rollback restores as a NEW commit; history is append-only
    db.rollback(0)
    assert db.count_documents() == 3
    assert db.get_document(2)["text"] == "two doc"
    assert db.history()[0]["op"] == "rollback:0"


def test_versioned_delete_prunes_untouched_commits(spark, tmp_path):
    """A delete must rewrite ONLY the commit dirs containing the id —
    the other dirs ride into the new manifest unchanged (O(delta) COW)."""
    db = SparkVectolite(spark, str(tmp_path / "pdb"), embed_fn=stub_embedder(dim=8))
    db.insert_many(["first batch doc"])   # commit 0
    db.insert_many(["second batch doc"])  # commit 1
    db.insert_many(["third batch doc"])   # commit 2
    before = set(db._snap._read_manifest(2)["dirs"])
    assert db.delete_document(2) is True  # lives only in commit 1
    after = db._snap._read_manifest(db._snap.current_version())
    assert after["rewritten_dirs"] == 1 and after["pruned_dirs"] == 2
    # the two untouched dirs are literally the same paths as before
    assert len(before & set(after["dirs"])) == 2
    assert db.count_documents() == 2


def test_ann_query_build_probe_and_invalidate(spark, tmp_path):
    """query(ann=True): build-if-absent index, exact-rescored results (a
    doc queried by its own text is its own nearest neighbor), and any
    mutation invalidates the index so the next ANN query sees new docs."""
    import os

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "annstore"), embed_fn=stub_embedder(16)
    )
    texts = [f"document number {i} about topic {i % 3}" for i in range(30)]
    store.insert_many(texts)

    got = store.query(texts[7], top_k=3, ann=True)
    assert got and got[0]["text"] == texts[7]  # self-match always surfaces
    assert got[0]["score"] == 1.0
    assert os.path.exists(store._ann_path())

    exact = store.query(texts[7], top_k=3)
    assert got[0]["id"] == exact[0]["id"]

    # mutation invalidates; next ANN query rebuilds and finds the new doc
    new_id = store.insert("a brand new document inserted after the build", {})
    assert not os.path.exists(store._ann_path())
    got2 = store.query(
        "a brand new document inserted after the build", top_k=2, ann=True
    )
    assert got2[0]["id"] == new_id and got2[0]["score"] == 1.0

    with pytest.raises(Exception, match="metadata_filter"):
        store.query(texts[0], ann=True, metadata_filter={"k": "v"})


def test_query_many_matches_singles(spark, tmp_path):
    """Batch search must return, per text, exactly what the single-query
    path returns — one embed call and one job instead of Q jobs."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.store import SparkVectolite

    store = SparkVectolite(
        spark, str(tmp_path / "qmany"), embed_fn=stub_embedder(16)
    )
    texts = [f"doc about subject {i % 4} variant {i}" for i in range(20)]
    store.insert_many(texts)
    qs = [texts[3], texts[11], "an unrelated probe text"]
    batch = store.query_many(qs, top_k=3)
    assert len(batch) == 3
    for qt, got in zip(qs, batch):
        single = store.query(qt, top_k=3)
        assert [(r["id"], r["score"]) for r in got] == [
            (r["id"], r["score"]) for r in single
        ]
        assert got[0]["metadata"] == single[0]["metadata"]
    assert store.query_many([], top_k=3) == []
    with pytest.raises(Exception, match="cannot be empty"):
        store.query_many(["ok", "  "])


def test_query_diversify_lambda_one_matches_plain(store):
    """diversify=1.0 turns off the penalty: same ids, same scores, same
    order as the plain exact query."""
    for i in range(8):
        store.insert(f"document number {i} about topic {i % 3}")
    plain = store.query("document number 2 about topic 2", top_k=4)
    mmr = store.query("document number 2 about topic 2", top_k=4, diversify=1.0)
    assert [(r["id"], r["score"]) for r in mmr] == [
        (r["id"], r["score"]) for r in plain
    ]


def test_query_diversify_suppresses_duplicates(store):
    """Two identical texts embed identically (stub is deterministic); at
    lam=0.5 the second pick must skip the exact duplicate that plain
    ranking returns."""
    for text in ("alpha answer", "beta answer", "gamma answer"):
        store.insert(text)
        store.insert(text)  # embedding-identical duplicate
    plain = [r["id"] for r in store.query("find the answer", top_k=2)]
    # identical embeddings -> identical scores -> the plain top-2 IS a
    # duplicate pair (id-asc adjacent)
    assert plain[1] == plain[0] + 1 and plain[0] % 2 == 1
    mmr = [
        r["id"]
        for r in store.query("find the answer", top_k=2, diversify=0.5)
    ]
    assert mmr[0] == plain[0] and mmr[1] != plain[1]


def test_query_diversify_validation(store):
    store.insert("some text")
    with pytest.raises(VectoliteError):
        store.query("q", top_k=2, diversify=1.5)
    with pytest.raises(VectoliteError):
        store.query("q", top_k=2, ann=True, diversify=0.5)
    # composes with metadata_filter (exact path)
    store.insert("tagged text", metadata={"tag": "x"})
    got = store.query("tagged text", top_k=2, diversify=0.9,
                      metadata_filter={"tag": "x"})
    assert [r["id"] for r in got] == [2] and got[0]["metadata"]["tag"] == "x"


def test_query_many_ann_matches_single_ann(spark, tmp_path):
    """Batch ANN must equal each query's individual ann=True answer (one
    union probe vs per-query probes — plan changes, answers don't)."""
    db = SparkVectolite(
        spark, str(tmp_path / "qmann"), embed_fn=stub_embedder(dim=16)
    )
    for i in range(30):
        db.insert(f"document {i} talks about topic {i % 5}")
    texts = ["topic 2 stuff", "document 7", "unrelated query"]
    batch = db.query_many(texts, top_k=4, ann=True)
    for t, got in zip(texts, batch):
        want = db.query(t, top_k=4, ann=True)
        assert [(r["id"], r["score"]) for r in got] == [
            (r["id"], r["score"]) for r in want
        ], t


def test_store_grep(store):
    from vectolite_spark.errors import VectoliteError

    s = store
    s.insert("Merge Join beats nested loops")
    s.insert("hash aggregate only")
    s.insert("a merge join again")
    got = s.grep("merge join")
    assert [d["id"] for d in got] == [1, 3]  # case-insensitive, id-asc
    assert s.grep("merge join", limit=1)[0]["id"] == 1
    assert [d["id"] for d in s.grep("jo.n b", regex=True)] == [1]
    assert s.grep("zqz") == []
    with pytest.raises(VectoliteError):
        s.grep("   ")
    with pytest.raises(VectoliteError):
        s.grep("x", limit=0)


def test_store_grep_invalid_regex(store):
    from vectolite_spark.errors import VectoliteError

    store.insert("some text")
    with pytest.raises(VectoliteError, match="Invalid regex"):
        store.grep("[unclosed", regex=True)


def test_store_fuzzy_search(store):
    from vectolite_spark.errors import VectoliteError
    from vectolite_spark.operators.retrieval import extract_trigrams

    s = store
    s.insert("Merge Join beats nested loops")
    s.insert("hash aggregate only")
    got = s.fuzzy_search("merge joim", top_k=2)  # typo'd query
    assert got[0]["id"] == 1
    q = set(extract_trigrams("merge joim"))
    d = set(extract_trigrams("Merge Join beats nested loops"))
    assert got[0]["score"] == pytest.approx(
        round(len(q & d) / len(q | d), 6)
    )
    assert s.fuzzy_search("zqzqzq") == []  # no overlap -> empty, no error
    with pytest.raises(VectoliteError):
        s.fuzzy_search("ab")


def test_store_grep_regex_case_and_dialect(store):
    from vectolite_spark.errors import VectoliteError

    store.insert("Merge Join beats loops")
    # uppercase pattern must still match (case-insensitive contract)
    assert [d["id"] for d in store.grep("Merge.*Join", regex=True)] == [1]
    # Java-invalid-but-Python-valid pattern rejected driver-side
    with pytest.raises(VectoliteError, match="Invalid regex"):
        store.grep("(?P<x>merge)", regex=True)
    # Java-valid-but-Python-invalid pattern accepted
    assert [d["id"] for d in store.grep(r"\p{Lower}+ join", regex=True)] == [1]


def test_store_grep_with_text_index(store):
    s = store
    s.insert("Merge Join beats nested loops")
    s.insert("hash aggregate only")
    s.insert("a merge join again")
    scan = s.grep("merge join")
    s.build_text_index()
    assert s._has_text_index()
    # indexed path must be byte-identical to the scan path
    assert s.grep("merge join") == scan
    assert [d["id"] for d in s.grep("Merge.*Join", regex=True)] == [1, 3]
    # unsupported regex (alternation) silently falls back to the scan
    assert [d["id"] for d in s.grep("(merge|hash)", regex=True)] == [1, 2, 3]
    # any mutation invalidates; grep falls back to scan and stays correct
    s.insert("brand new merge join doc")
    assert not s._has_text_index()
    assert [d["id"] for d in s.grep("merge join")] == [1, 3, 4]


def test_versioned_mutations_invalidate_text_index(spark, tmp_path):
    """The dir-pruned snapshot mutations (merge/delete/rollback) must
    drop the text index, or grep serves results from a table state that
    no longer exists."""
    import datetime as dt

    s = SparkVectolite(spark, str(tmp_path / "vdb"), embed_fn=stub_embedder(dim=8))
    s.insert("original text one")
    s.insert("hash aggregate only")
    s.build_text_index()
    assert s._has_text_index()
    # upsert rewrites doc 1's text through _snap.merge
    upd = spark.createDataFrame(
        [(1, "merge join rewrite", "{}", [0.0] * 8,
          dt.datetime(2026, 1, 1))],
        "id long, text string, metadata string, embedding array<float>, "
        "created_at timestamp",
    )
    s.upsert(upd)
    assert not s._has_text_index()
    assert [d["id"] for d in s.grep("merge join")] == [1]  # fresh scan
    s.build_text_index()
    s.delete_document(2)
    assert not s._has_text_index()
    s.build_text_index()
    s.rollback(1)  # back to pre-upsert state
    assert not s._has_text_index()
    assert s.grep("merge join") == []  # original text restored, no stale hit


# NaN sorts first in Spark's desc order and last in numpy's, so a
# non-finite vector made the per-job and serving paths disagree; every
# entry point rejects one instead, after the float32 cast (1e39
# overflows to inf there)
NON_FINITE = pytest.mark.parametrize(
    "bad", [float("nan"), float("inf"), float("-inf"), 1e39],
    ids=["nan", "inf", "-inf", "1e39"],
)


@pytest.fixture()
def poison_store(spark, tmp_path):
    """4-dim flat store whose embedder returns a caller-set vector for
    the text 'poison' (``store.poison``) and stub vectors otherwise."""
    stub = stub_embedder(dim=4)

    def embed(texts):
        return [
            list(store.poison) if t == "poison" else v
            for t, v in zip(texts, stub(texts))
        ]

    store = SparkVectolite(spark, str(tmp_path / "nf"), embed_fn=embed)
    store.insert_many([f"finite doc {i}" for i in range(4)])
    return store


@NON_FINITE
def test_insert_rejects_non_finite_embedding(poison_store, bad):
    poison_store.poison = [0.5, bad, 0.0, 0.0]
    with pytest.raises(VectoliteError, match="non-finite"):
        poison_store.insert("poison")
    with pytest.raises(VectoliteError, match="non-finite"):
        poison_store.insert_many(
            ["explicit"], embeddings=[[bad, 0.0, 0.0, 1.0]]
        )
    assert poison_store.count_documents() == 4


@NON_FINITE
def test_append_dataframe_rejects_non_finite_embedding(poison_store, spark, bad):
    rows = spark.createDataFrame(
        [("ok text", "{}", [1.0, 0.0, 0.0, 0.0]), ("bad text", "{}", [0.5, 0.5, bad, 0.0])],
        "text string, metadata string, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-finite"):
        poison_store.append_dataframe(rows)
    assert poison_store.count_documents() == 4  # the failed job committed nothing


@NON_FINITE
def test_upsert_rejects_non_finite_embedding(poison_store, spark, bad):
    updates = spark.createDataFrame(
        [(1, "replaced", None, [0.0, 0.0, 0.0, bad])],
        "id long, text string, metadata string, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-finite"):
        poison_store.upsert(updates)
    assert poison_store.get_document(1)["text"] == "finite doc 0"
    assert poison_store.count_documents() == 4


@NON_FINITE
def test_query_rejects_non_finite_query_vector(poison_store, bad):
    poison_store.poison = [bad, 1.0, 0.0, 0.0]
    with pytest.raises(VectoliteError, match="non-finite"):
        poison_store.query("poison", top_k=3)
    with pytest.raises(VectoliteError, match="non-finite"):
        poison_store.query_many(["finite doc 1", "poison"], top_k=3)
    # serving enabled: rejected before either regime sees it
    poison_store.enable_batched_serving()
    with pytest.raises(VectoliteError, match="non-finite"):
        poison_store.query("poison", top_k=3, ann=True)
    poison_store.disable_batched_serving()


def test_versioned_false_is_rejected(spark, tmp_path):
    """``versioned`` has one legal value: the flat backend is gone, and
    asking for it fails before anything is created."""
    path = tmp_path / "noflat"
    with pytest.raises(VectoliteError, match="flat parquet backend was removed"):
        SparkVectolite(spark, str(path), versioned=False)
    assert not path.exists()


def _tree_bytes(root) -> dict:
    """Every file under ``root`` (relative path -> bytes)."""
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_flat_layout_directory_is_refused(spark, tmp_path):
    """A directory the removed flat backend wrote (parquet files at the
    root, no ``_versions/``) or its interrupted-rewrite leftover (the
    live rows in ``<path>.bak``) is refused loudly and left byte for
    byte as it was; opening it as a snapshot table would see an empty
    store and restart ids at 1. The migration the message names keeps
    every id."""
    import datetime as dt
    import os

    from vectolite_spark.schema import DOCUMENT_STORE_SCHEMA
    from vectolite_spark.snapshots import SnapshotStore

    old = str(tmp_path / "flatdb")
    now = dt.datetime(2026, 1, 1)
    rows = [
        (i, f"legacy doc {i}", "{}", [float(i), 1.0, 0.0, 0.0], now)
        for i in (3, 7, 9)
    ]
    spark.createDataFrame(rows, DOCUMENT_STORE_SCHEMA).write.parquet(old)
    before = _tree_bytes(tmp_path)
    with pytest.raises(VectoliteError, match="flat parquet store") as e:
        SparkVectolite(spark, old)
    assert "SnapshotStore(spark, new_path).append" in str(e.value)
    assert _tree_bytes(tmp_path) == before

    # a rewrite that crashed between its two renames: path gone, the
    # live rows in <path>.bak
    os.rename(old, old + ".bak")
    before = _tree_bytes(tmp_path)
    with pytest.raises(VectoliteError, match="interrupted flat-store rewrite"):
        SparkVectolite(spark, old)
    assert _tree_bytes(tmp_path) == before
    assert not os.path.exists(old)

    new = str(tmp_path / "migrated")
    SnapshotStore(spark, new).append(spark.read.parquet(old + ".bak"))
    db = SparkVectolite(spark, new, embed_fn=stub_embedder(dim=4))
    assert db.count_documents() == 3
    assert sorted(r["id"] for r in db.df().select("id").collect()) == [3, 7, 9]
    assert db.insert("after migration") == 10


def test_readers_racing_writers_see_whole_commits(spark, tmp_path):
    """``count_documents()`` readers racing a writer that repeatedly
    compacts and deletes on a default-constructed store: every read
    returns a count some committed version holds, each reader's counts
    never go back up, and no read raises. A reader must never see a
    half-swapped table or a manifest whose bytes have not landed."""
    import threading

    db = SparkVectolite(
        spark, str(tmp_path / "racedb"), embed_fn=stub_embedder(dim=8)
    )
    ids = []
    for b in range(3):
        ids += db.insert_many([f"race doc {b}-{i}" for i in range(20)])
    n0, rounds = len(ids), 8
    done = threading.Event()
    reads: list[list[int]] = [[], []]
    errors: list[BaseException] = []

    def reader(log: list[int]) -> None:
        while not done.is_set():
            try:
                log.append(db.count_documents())
            except Exception as e:  # the test's verdict, asserted below
                errors.append(e)

    threads = [threading.Thread(target=reader, args=(r,)) for r in reads]
    for t in threads:
        t.start()
    try:
        for i in range(rounds):
            db.compact()
            assert db.delete_document(ids[i * 7])
    finally:
        done.set()
        for t in threads:
            t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, f"{len(errors)} reads raised, first: {errors[0]!r}"
    allowed = {n0 - d for d in range(rounds + 1)}
    for log in reads:
        assert log, "each reader completed reads"
        assert set(log) <= allowed, sorted(set(log) - allowed)
        assert log == sorted(log, reverse=True)
    assert db.count_documents() == n0 - rounds
