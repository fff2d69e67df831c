"""File-ingest pipeline (U5) end-to-end into the store."""

from __future__ import annotations

import json

import pytest

from vectolite_spark.chunk import chunk_text
from vectolite_spark.embed import stub_embedder
from vectolite_spark.errors import VectoliteError
from vectolite_spark.ingest import ingest_files, read_files, validate_file_path
from vectolite_spark.store import SparkVectolite


def test_validate_file_path(tmp_path):
    f = tmp_path / "doc.txt"
    f.write_text("hello")
    assert validate_file_path(str(f)) == str(f)
    with pytest.raises(VectoliteError, match="does not exist"):
        validate_file_path(str(tmp_path / "missing.txt"))
    with pytest.raises(VectoliteError, match="not a file"):
        validate_file_path(str(tmp_path))
    bad = tmp_path / "doc.pdf"
    bad.write_text("x")
    with pytest.raises(VectoliteError, match="Unsupported file type"):
        validate_file_path(str(bad))


def test_ingest_file_chunks_and_metadata(spark, tmp_path):
    text = "\n\n".join(f"paragraph number {i} with some words" for i in range(30))
    f = tmp_path / "doc.md"
    f.write_text(text)
    store = SparkVectolite(spark, str(tmp_path / "db"), embed_fn=stub_embedder(dim=8))
    n = ingest_files(
        store, str(f), base_metadata={"project": "x", "v": 2},
        max_chars=100, overlap=20, embed_dim=8,
    )
    expected_chunks = chunk_text(text, 100, 20)
    assert n == len(expected_chunks) > 1
    assert store.count_documents() == n
    docs = store.list_documents(limit=1000)
    metas = sorted((d["metadata"] for d in docs), key=lambda m: m["chunk_index"])
    assert [m["chunk_index"] for m in metas] == list(range(n))
    assert all(m["total_chunks"] == n for m in metas)
    assert all(m["filename"] == "doc.md" and m["source"].endswith("doc.md") for m in metas)
    assert all(m["project"] == "x" and m["v"] == 2 for m in metas)  # typed round-trip
    # chunk texts stored in order and queryable
    got = store.query(expected_chunks[0], top_k=1)[0]
    assert got["text"] == expected_chunks[0]
    assert got["score"] == pytest.approx(1.0)


def test_ingest_no_chunk_whole_file(spark, tmp_path):
    f = tmp_path / "whole.txt"
    f.write_text("one\n\ntwo\n\nthree")
    store = SparkVectolite(spark, str(tmp_path / "db2"), embed_fn=stub_embedder(dim=8))
    n = ingest_files(store, str(f), chunk=False, embed_dim=8)
    assert n == 1
    d = store.list_documents()[0]
    assert d["metadata"]["total_chunks"] == 1 and d["metadata"]["chunk_index"] == 0


def test_ingest_glob_multiple_files(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"f{i}.txt").write_text(f"file {i} body\n\nsecond para {i}")
    store = SparkVectolite(spark, str(tmp_path / "db3"), embed_fn=stub_embedder(dim=8))
    n = ingest_files(store, str(tmp_path / "f*.txt"), embed_dim=8)
    assert n == 3  # each file fits in one chunk
    names = {d["metadata"]["filename"] for d in store.list_documents()}
    assert names == {"f0.txt", "f1.txt", "f2.txt"}


def test_append_dataframe_distributed(spark, tmp_path):
    # the bulk path: ids assigned in-plan (unique, ascending, possibly
    # non-contiguous), count from the write job's Observation — no corpus
    # data collected to the driver
    store = SparkVectolite(spark, str(tmp_path / "bulk"), embed_fn=stub_embedder(dim=4))
    first = store.insert("seed doc")  # contiguous interactive path
    rows = spark.createDataFrame(
        [(f"bulk doc {i}", "{}", [float(i), 1.0, 0.0, 0.5]) for i in range(200)],
        "text string, metadata string, embedding array<float>",
    ).repartition(8)
    n = store.append_dataframe(rows)
    assert n == 200
    assert store.count_documents() == 201
    ids = [r["id"] for r in store.df().select("id").collect()]
    assert len(set(ids)) == 201
    assert min(i for i in ids if i != first) > first  # bulk ids follow max_id


def test_append_dataframe_validates_in_plan(spark, tmp_path):
    store = SparkVectolite(spark, str(tmp_path / "bulkv"), embed_fn=stub_embedder(dim=4))
    store.insert("seed doc")
    bad_dim = spark.createDataFrame(
        [("ok text", "{}", [1.0, 2.0])], "text string, metadata string, embedding array<float>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        store.append_dataframe(bad_dim)
    empty_text = spark.createDataFrame(
        [("   ", "{}", [1.0, 2.0, 3.0, 4.0])],
        "text string, metadata string, embedding array<float>",
    )
    with pytest.raises(Exception, match="cannot be empty"):
        store.append_dataframe(empty_text)
    assert store.count_documents() == 1  # failed jobs committed nothing


def test_read_files_schema(spark, tmp_path):
    f = tmp_path / "a.txt"
    f.write_text("body text")
    df = read_files(spark, str(f))
    r = df.first()
    assert r["filename"] == "a.txt" and r["text"] == "body text"


def test_read_files_glob_lists_one_task_per_core(spark, tmp_path, count_jobs):
    """A 200-file glob is listed by one Spark job of at most one task per
    core, not one task per file; every file still reads."""
    for i in range(200):
        (tmp_path / f"f{i:03d}.txt").write_text(f"file {i}")
    with count_jobs() as jobs:
        df = read_files(spark, str(tmp_path / "*.txt"))
    st = spark.sparkContext.statusTracker()
    tasks = [
        sum(st.getStageInfo(sid).numTasks for sid in st.getJobInfo(j).stageIds)
        for j in jobs
    ]
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    assert df.count() == 200


def test_read_jsonl_extracts_text_and_meta(spark, tmp_path):
    import json as _json

    from vectolite_spark.ingest import read_jsonl

    p = tmp_path / "corpus.jsonl"
    rows = [
        {"text": "first document body", "url": "http://a", "lang": "en"},
        {"text": "  ", "url": "http://blank"},          # whitespace -> dropped
        {"url": "http://notext"},                        # missing -> dropped
        {"text": "second document body", "lang": "fr"},
    ]
    p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    df = read_jsonl(spark, str(p), meta_fields=["url", "lang"])
    got = {r["text"]: (r["url"], r["lang"]) for r in df.collect()}
    assert got == {
        "first document body": ("http://a", "en"),
        "second document body": (None, "fr"),
    }
    assert df.columns == ["source", "filename", "text", "url", "lang"]


def test_read_jsonl_rejects_bad_suffix_and_missing(spark, tmp_path):
    import pytest as _pytest

    from vectolite_spark.errors import VectoliteError
    from vectolite_spark.ingest import read_jsonl

    bad = tmp_path / "corpus.csv"
    bad.write_text("text\nx\n")
    with _pytest.raises(VectoliteError):
        read_jsonl(spark, str(bad))
    with _pytest.raises(VectoliteError):
        read_jsonl(spark, str(tmp_path / "nope.jsonl"))


def test_ingest_jsonl_end_to_end(spark, tmp_path):
    import json as _json

    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.ingest import ingest_jsonl
    from vectolite_spark.store import SparkVectolite

    p = tmp_path / "corpus.jsonl"
    docs = [{"text": f"jsonl doc number {i} about topic {i % 3}"} for i in range(20)]
    p.write_text("\n".join(_json.dumps(r) for r in docs) + "\n")
    store = SparkVectolite(spark, str(tmp_path / "db"), embed_fn=stub_embedder(dim=16))
    n = ingest_jsonl(store, str(p), chunk=False, embed_dim=16)
    assert n == 20
    assert store.count_documents() == 20
    hits = store.query("jsonl doc number 7 about topic 1", top_k=1)
    assert hits and "jsonl doc" in hits[0]["text"]


def test_ingest_pipeline_into_versioned_store(spark, tmp_path):
    """Distributed ingest (chunk -> embed -> append_dataframe) lands in
    one snapshot commit: the Observation row count still reports
    correctly (the write happens inside SnapshotStore.append), and the
    ingest is one time-travelable commit."""
    from vectolite_spark.embed import stub_embedder
    from vectolite_spark.ingest import ingest_files
    from vectolite_spark.store import SparkVectolite

    f = tmp_path / "vcorpus.txt"
    f.write_text("first paragraph\n\nsecond paragraph\n\nthird paragraph")
    store = SparkVectolite(spark, str(tmp_path / "vdb"), embed_fn=stub_embedder(dim=8))
    # max_chars=20 forces one chunk per paragraph
    n = ingest_files(store, str(f), chunk=True, max_chars=20, overlap=0, embed_dim=8)
    assert n == 3 and store.count_documents() == 3
    hist = store.history()
    assert [h["op"] for h in hist] == ["append"]
    # a second ingest is a second commit; v0 still sees only the first
    n2 = ingest_files(store, str(f), chunk=True, max_chars=20, overlap=0, embed_dim=8)
    assert n2 == 3 and store.count_documents() == 6
    assert store.read_version(0).count() == 3
