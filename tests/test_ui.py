"""Web UI (S6): the reference's Streamlit panels as a stdlib HTTP app —
exercised end-to-end over an ephemeral port against a real store."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from vectolite_spark.embed import stub_embedder
from vectolite_spark.store import SparkVectolite
from vectolite_spark.ui import serve_ui


@pytest.fixture()
def ui(spark, tmp_path):
    store = SparkVectolite(spark, str(tmp_path / "uidb"), embed_fn=stub_embedder(dim=8))
    store.insert("alpha document about vectors", {"src": "seed"})
    store.insert("beta document about parquet", {"src": "seed"})
    server = serve_ui(store, port=0)  # ephemeral port
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, store
    server.shutdown()


def _get(url: str) -> tuple[int, str]:
    with urllib.request.urlopen(url) as r:
        return r.status, r.read().decode()


def _post(url: str, data: dict) -> tuple[int, str]:
    body = urllib.parse.urlencode(data).encode()
    req = urllib.request.Request(url, data=body, method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def test_browse_lists_documents(ui):
    base, _ = ui
    status, page = _get(base + "/browse")
    assert status == 200
    assert "Showing 1-2 of 2" in page
    assert "alpha document" in page and "beta document" in page


def test_search_returns_scored_results(ui):
    base, _ = ui
    q = urllib.parse.quote("alpha document about vectors")
    status, page = _get(base + f"/search?q={q}&k=2")
    assert status == 200
    assert "Score: 1.0000" in page  # exact text -> identical stub vector
    assert "alpha document" in page


def test_add_and_delete_roundtrip(ui):
    base, store = ui
    # add (redirect follows back to browse)
    status, page = _post(
        base + "/add",
        {"text": "gamma freshly added", "metadata": json.dumps({"src": "ui"})},
    )
    assert status == 200 and "gamma freshly added" in page
    assert store.count_documents() == 3
    new_id = max(d["id"] for d in store.list_documents())
    status, page = _post(base + "/delete", {"id": str(new_id)})
    assert status == 200
    assert store.count_documents() == 2


def test_ingest_file_panel(ui, tmp_path):
    base, store = ui
    f = tmp_path / "uidoc.txt"
    f.write_text("one paragraph\n\nanother paragraph")
    status, _ = _post(
        base + "/ingest",
        {"path": str(f), "chunk": "on", "max_chars": "2000", "overlap": "0"},
    )
    assert status == 200
    assert store.count_documents() == 3


def test_manage_stats_and_errors(ui):
    base, _ = ui
    status, page = _get(base + "/manage")
    assert status == 200 and "Total Documents: <b>2</b>" in page
    # bad routes and bad input surface as error pages, not hangs
    req = urllib.request.Request(base + "/nope")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base + "/add", {"text": "x", "metadata": "{not json"})
    assert e.value.code == 500


def test_manage_history_and_rollback_versioned(spark, tmp_path):
    store = SparkVectolite(
        spark, str(tmp_path / "uivdb"), embed_fn=stub_embedder(dim=8)
    )
    store.insert("keep me around")
    store.insert("delete me soon")
    store.delete_document(2)
    server = serve_ui(store, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        status, page = _get(base + "/manage")
        assert status == 200
        assert "Version History" in page and "delete" in page
        status, _ = _post(base + "/rollback", {"version": "1"})
        assert status == 200
        assert store.count_documents() == 2  # pre-delete state restored
    finally:
        server.shutdown()


def test_grep_panel(ui):
    base, _ = ui
    status, page = _get(base + "/grep")
    assert status == 200 and "Text Search (grep)" in page
    q = urllib.parse.quote("ALPHA doc")
    status, page = _get(base + f"/grep?q={q}")
    assert status == 200
    assert "1 matches" in page and "alpha document" in page
    q = urllib.parse.quote("(alpha|beta) document")
    status, page = _get(base + f"/grep?q={q}&regex=on")
    assert "2 matches" in page
    status, page = _get(base + "/grep?q=zqz")
    assert "0 matches" in page


def test_grep_panel_attribute_injection_escaped(ui):
    base, _ = ui
    # unquoted-attribute injection: a crafted limit must stay inert text
    evil = urllib.parse.quote("1 onfocus=alert(1) autofocus")
    status, page = _get(base + f"/grep?limit={evil}")
    assert status == 200
    # the payload must sit INSIDE the quoted value (inert text; _esc
    # escapes any quote that would break out) — never as a bare
    # attribute of its own
    assert 'value="1 onfocus=alert(1) autofocus"' in page
    assert "value=1 onfocus" not in page


def test_grep_panel_fuzzy_mode(ui):
    base, _ = ui
    q = urllib.parse.quote("alpha documant")  # typo'd
    status, page = _get(base + f"/grep?q={q}&fuzzy=on")
    assert status == 200
    assert "Sim:" in page and "alpha document" in page
    # fuzzy+regex together -> error banner, not a traceback
    try:
        _get(base + f"/grep?q={q}&fuzzy=on&regex=on")
        raise AssertionError("expected HTTP 500")
    except urllib.error.HTTPError as e:
        assert e.code == 500
        assert "mutually exclusive" in e.read().decode()


def test_concurrent_ui_searches_coalesce_through_batcher(ui):
    """serve_ui enables the store's batched serving; in the
    micro-batched regime (forced here with a zero resident budget) N
    parallel /search requests ride the threaded server into the
    MicroBatcher and coalesce into fewer Spark jobs than requests
    (VERDICT r6 item 2)."""
    base, store = ui
    store.enable_batched_serving(resident_max_bytes=0)
    batcher = store._ensure_working_set().exact
    cycles: list[int] = []
    orig = batcher._run_batch

    def counting(qvecs, ks=None):
        cycles.append(len(qvecs))
        return orig(qvecs, ks)

    batcher._run_batch = counting
    q = urllib.parse.quote("alpha document about vectors")
    outcomes: list[int] = []
    lock = threading.Lock()

    def client() -> None:
        status, page = _get(base + f"/search?q={q}&k=2")
        with lock:
            outcomes.append(status)
        assert "alpha document" in page

    threads = [threading.Thread(target=client) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes == [200] * 6
    assert sum(cycles) == 6 and len(cycles) < 6
