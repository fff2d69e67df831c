"""CLI surface (SURVEY.md §2.7): parser shape + store-backed commands."""

from __future__ import annotations

import json

import pytest

from vectolite_spark.cli import _parse_metadata, make_parser


def test_parser_covers_reference_commands():
    p = make_parser()
    # the reference's seven commands (vectolite.py:424-648)
    for argv, expect in [
        (["add", "some text"], {"metadata": None, "db": "vectolite_store"}),
        (["query", "q", "--top-k", "5"], {"top_k": 5}),
        (["ingest-file", "f.md", "--no-chunk"], {"max_chars": 2000, "overlap": 200}),
        (["stats"], {}),
        (["delete", "7"], {"doc_id": 7}),
        (["list", "--limit", "3", "--offset", "2", "--no-text"], {"max_text": 100}),
        (["show", "9"], {"doc_id": 9}),
    ]:
        args = p.parse_args(argv)
        for k, v in expect.items():
            assert getattr(args, k) == v


def test_reference_embedder_flag_aliases():
    p = make_parser()
    # the reference's --local / --remote backend flags (vectolite.py:424-447)
    assert p.parse_args(["add", "t", "--local"]).embedder == "local"
    assert p.parse_args(["add", "t", "--remote"]).embedder == "openai"
    assert p.parse_args(["add", "t"]).embedder == "stub"


def test_metadata_validation():
    assert _parse_metadata(None) is None
    assert _parse_metadata('{"a": [1, null]}') == {"a": [1, None]}
    with pytest.raises(SystemExit):
        _parse_metadata("not json")
    with pytest.raises(SystemExit):
        _parse_metadata("[1,2]")  # must be an object


def test_cli_add_query_roundtrip(spark, tmp_path, monkeypatch, capsys):
    # exercise command handlers against a real store without re-spawning
    # a JVM: patch the session factory to the shared test session
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    cli.main(["add", "round trip text", "--db", str(tmp_path / "db"), "--dim", "8"])
    out = capsys.readouterr().out
    assert "Added document with ID: 1" in out
    cli.main(["query", "round trip text", "--top-k", "1", "--db", str(tmp_path / "db"), "--dim", "8"])
    out = capsys.readouterr().out
    assert "[id=1] score=1.0000" in out
    cli.main(["stats", "--db", str(tmp_path / "db")])
    assert "Documents: 1" in capsys.readouterr().out


def test_cli_ingest_jsonl_routes_to_corpus_path(spark, tmp_path, capsys):
    import json as _json

    from vectolite_spark import cli

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        "\n".join(_json.dumps({"text": f"cli jsonl doc {i}"}) for i in range(5)) + "\n"
    )
    db = str(tmp_path / "db")
    cli.main(["ingest-file", str(p), "--db", db, "--no-chunk", "--dim", "8"])
    out = capsys.readouterr().out
    assert "Ingested 5 chunk(s)" in out


def test_cli_versioned_store_lifecycle(spark, tmp_path, monkeypatch, capsys):
    """Every --db is a snapshot table: add/delete are commits, history
    prints them, diff and rollback work on them, vacuum trims them — no
    flag needed. The removed --versioned flag is rejected."""
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "vdb")
    cli.main(["add", "first doc", "--db", db, "--dim", "8"])
    cli.main(["add", "second doc", "--db", db, "--dim", "8"])
    with pytest.raises(SystemExit):
        cli.main(["history", "--db", db, "--versioned"])
    capsys.readouterr()
    cli.main(["delete", "1", "--db", db])
    assert "Deleted document 1" in capsys.readouterr().out
    cli.main(["history", "--db", db])
    out = capsys.readouterr().out
    assert "delete" in out and "append" in out
    cli.main(["diff", "1", "2", "--db", db])
    out = capsys.readouterr().out
    assert "0 added, 1 removed" in out and "removed  id=1" in out
    cli.main(["rollback", "1", "--db", db])
    assert "new commit v3" in capsys.readouterr().out
    cli.main(["diff", "2", "3", "--db", db])
    out = capsys.readouterr().out
    assert "1 added, 0 removed" in out and "added    id=1" in out
    cli.main(["list", "--db", db, "--limit", "10"])
    out = capsys.readouterr().out
    assert "first doc" in out and "second doc" in out
    cli.main(["vacuum", "--db", db, "--keep", "1"])
    assert "manifest(s)" in capsys.readouterr().out
    cli.main(["stats", "--db", db])
    assert "Documents: 2" in capsys.readouterr().out


def test_cli_query_ann_flag(spark, tmp_path, monkeypatch, capsys):
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "anndb")
    for i in range(8):
        cli.main(["add", f"ann cli doc number {i}", "--db", db, "--dim", "8"])
    capsys.readouterr()
    cli.main(["query", "ann cli doc number 3", "--top-k", "1", "--ann", "--db", db, "--dim", "8"])
    out = capsys.readouterr().out
    assert "[id=4] score=1.0000" in out  # self-match via the index probe


def test_cli_query_mmr_flag(spark, tmp_path, capsys):
    from vectolite_spark import cli

    db = str(tmp_path / "mmrdb")
    for t in ("alpha answer", "alpha answer", "other text entirely"):
        cli.main(["add", t, "--db", db, "--dim", "8"])
    capsys.readouterr()
    cli.main(["query", "find the answer", "--top-k", "2", "--mmr", "0.5",
              "--db", db, "--dim", "8"])
    out = capsys.readouterr().out
    # both results printed; the parser wires --mmr through to diversify
    assert "1." in out and "2." in out
    assert make_parser().parse_args(["query", "q", "--mmr", "0.7"]).mmr == 0.7


def test_cli_grep(spark, tmp_path, monkeypatch, capsys):
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "db")
    cli.main(["add", "Merge Join beats loops", "--db", db, "--dim", "8"])
    cli.main(["add", "hash aggregate only", "--db", db, "--dim", "8"])
    capsys.readouterr()
    cli.main(["grep", "merge join", "--db", db])
    out = capsys.readouterr().out
    assert "[1]" in out and "[2]" not in out
    cli.main(["grep", "joi?n", "--regex", "--db", db])
    out = capsys.readouterr().out
    assert "[1]" in out
    cli.main(["grep", "zqz", "--db", db])
    assert "No matches." in capsys.readouterr().out


def test_cli_grep_fuzzy(spark, tmp_path, monkeypatch, capsys):
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "db")
    cli.main(["add", "Merge Join beats loops", "--db", db, "--dim", "8"])
    capsys.readouterr()
    cli.main(["grep", "merge joim", "--fuzzy", "--db", db])
    out = capsys.readouterr().out
    assert "[1] score=" in out


def test_cli_index_command(spark, tmp_path, monkeypatch, capsys):
    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "db")
    cli.main(["add", "merge join text", "--db", db, "--dim", "8"])
    capsys.readouterr()
    cli.main(["index", "--text", "--db", db])
    assert "Built text" in capsys.readouterr().out
    cli.main(["grep", "merge join", "--db", db])
    assert "[1]" in capsys.readouterr().out  # served from the index
    with pytest.raises(SystemExit):
        cli.main(["index", "--db", db])


def test_cli_query_multiple_texts_one_batch(spark, tmp_path, monkeypatch, capsys):
    """Multiple query texts run through store.query_many (ONE batch job)
    and print a labeled block per query; --mmr/--hybrid reject batch."""
    import pytest

    import vectolite_spark.cli as cli
    import vectolite_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    db = str(tmp_path / "db")
    for i in range(4):
        cli.main(["add", f"batch cli doc number {i}", "--db", db, "--dim", "8"])
    capsys.readouterr()

    import vectolite_spark.store as store_mod

    calls: list[int] = []
    orig = store_mod.SparkVectolite.query_many

    def counting(self, texts, **kw):
        calls.append(len(texts))
        return orig(self, texts, **kw)

    monkeypatch.setattr(store_mod.SparkVectolite, "query_many", counting)
    cli.main([
        "query", "batch cli doc number 0", "batch cli doc number 3",
        "--top-k", "1", "--db", db, "--dim", "8",
    ])
    out = capsys.readouterr().out
    assert calls == [2], "both texts went through ONE query_many call"
    assert "=== query: batch cli doc number 0" in out
    assert "=== query: batch cli doc number 3" in out
    assert "[id=1] score=1.0000" in out and "[id=4] score=1.0000" in out

    with pytest.raises(SystemExit):
        cli.main(["query", "a", "b", "--mmr", "0.5", "--db", db, "--dim", "8"])
    assert "single query text" in capsys.readouterr().err
