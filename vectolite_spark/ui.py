"""Browse/search web UI — the reference's Streamlit surface (S6;
/root/reference/vectolite_ui.py:1-386) re-expressed without the Streamlit
dependency: a stdlib ``http.server`` app over ``SparkVectolite``.

Same four panels as the reference's tabs:
- Add       (vectolite_ui.py tab1): text + JSON metadata insert, and
  server-side file ingest with chunking options (the reference's
  uploader loops ``insert`` per chunk; here ingest is ONE distributed
  pipeline via ``ingest_files``).
- Search    (tab2): query + top-k, scores at the reference's 4-dp
  display precision.
- Browse    (tab3): created_at-desc pagination with per-row delete.
- Manage    (tab4): stats (count, size, path) + delete-by-id.

Everything renders as plain HTML forms — no JS, no external packages —
so the panel logic is fully testable with urllib against an ephemeral
port. Launch: ``python -m vectolite_spark.cli ui --db PATH`` or
``serve_ui(store)``.
"""

from __future__ import annotations

import html
import json
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from vectolite_spark.errors import VectoliteError

_PAGE = """<!doctype html><html><head><title>Vectolite Spark UI</title>
<style>
 body {{ font-family: sans-serif; margin: 2rem; max-width: 60rem; }}
 nav a {{ margin-right: 1rem; }}
 .card {{ background: #f0f2f6; padding: 1rem; border-radius: .5rem;
          margin: .5rem 0; border-left: 4px solid #4caf50; }}
 .score {{ background: #4caf50; color: white; padding: .2rem .6rem;
           border-radius: 1rem; font-size: .8rem; }}
 .err {{ color: #b00020; }}
 textarea, input[type=text] {{ width: 100%; }}
</style></head><body>
<h1>Vectolite: Vector Search Playground</h1>
<nav><a href="/add">Add</a><a href="/search">Search</a>
<a href="/grep">Grep</a>
<a href="/browse">Browse</a><a href="/manage">Manage</a></nav><hr>
{body}
</body></html>"""


def _esc(v) -> str:
    return html.escape(str(v), quote=True)


def make_handler(store, max_chars: int = 2000, overlap: int = 200):
    """Handler class closed over a SparkVectolite store (one store per
    server, like the reference's one session-state db per app)."""

    class Handler(BaseHTTPRequestHandler):
        # -- plumbing ------------------------------------------------------

        def log_message(self, *a):  # quiet test runs; override to re-enable
            pass

        def _send(self, body: str, status: int = 200) -> None:
            data = _PAGE.format(body=body).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _redirect(self, path: str) -> None:
            self.send_response(303)
            self.send_header("Location", path)
            self.end_headers()

        def _form(self) -> dict[str, str]:
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n).decode("utf-8")
            return {k: v[0] for k, v in urllib.parse.parse_qs(raw).items()}

        # -- routes --------------------------------------------------------

        def do_GET(self):
            url = urllib.parse.urlparse(self.path)
            q = {k: v[0] for k, v in urllib.parse.parse_qs(url.query).items()}
            route = {
                "/": self.page_browse,
                "/browse": self.page_browse,
                "/add": self.page_add,
                "/search": self.page_search,
                "/grep": self.page_grep,
                "/manage": self.page_manage,
            }.get(url.path)
            if route is None:
                self._send("<p class=err>Not found.</p>", 404)
                return
            try:
                route(q)
            except Exception as e:  # surface errors like the st.error banners
                self._send(f"<p class=err>Error: {_esc(e)}</p>", 500)

        def do_POST(self):
            url = urllib.parse.urlparse(self.path)
            form = self._form()
            try:
                if url.path == "/add":
                    meta = json.loads(form.get("metadata") or "{}")
                    doc_id = store.insert(form.get("text", ""), meta)
                    self._redirect(f"/browse?added={doc_id}")
                elif url.path == "/ingest":
                    from vectolite_spark.ingest import ingest_files

                    n = ingest_files(
                        store,
                        form["path"],
                        chunk=form.get("chunk") == "on",
                        max_chars=int(form.get("max_chars") or max_chars),
                        overlap=int(form.get("overlap") or overlap),
                        # match the store's embedding dimension (in-plan
                        # guard rejects a mismatched append)
                        embed_dim=store._dim() or 64,
                    )
                    self._redirect(f"/browse?ingested={n}")
                elif url.path == "/delete":
                    ok = store.delete_document(int(form["id"]))
                    self._redirect(f"/browse?deleted={int(ok)}")
                elif url.path == "/rollback":
                    v = store.rollback(int(form["version"]))
                    self._redirect(f"/manage?restored={v}")
                else:
                    self._send("<p class=err>Not found.</p>", 404)
            except Exception as e:
                self._send(f"<p class=err>Error: {_esc(e)}</p>", 500)

        # -- panels (reference tabs) ---------------------------------------

        def page_add(self, q):
            self._send(
                "<h2>Add Documents</h2>"
                "<form method=post action=/add><p>Text:</p>"
                "<textarea name=text rows=6></textarea>"
                "<p>Metadata (JSON):</p>"
                '<textarea name=metadata rows=3>{"source": "manual_input"}'
                "</textarea><p><button>Add Text</button></p></form><hr>"
                "<h3>Ingest file (server path, .txt/.md)</h3>"
                "<form method=post action=/ingest>"
                "<p>Path: <input type=text name=path></p>"
                "<p><label><input type=checkbox name=chunk checked> chunk</label> "
                f"max_chars <input name=max_chars value={max_chars} size=6> "
                f"overlap <input name=overlap value={overlap} size=6></p>"
                "<p><button>Ingest File</button></p></form>"
            )

        def page_search(self, q):
            body = [
                "<h2>Search Documents</h2>",
                "<form method=get action=/search>"
                f'<p><input type=text name=q value="{_esc(q.get("q", ""))}" '
                'placeholder="What are you looking for?"> '
                f'top-k <input name=k value="{_esc(q.get("k", "5"))}" size=4> '
                "<button>Search</button></p></form>",
            ]
            if q.get("q", "").strip():
                results = store.query(q["q"].strip(), top_k=int(q.get("k", "5")))
                body.append(f"<p>{len(results)} results</p>")
                for i, r in enumerate(results, 1):
                    body.append(
                        f"<div class=card><b>Result {i}</b> "
                        f'<span class=score>Score: {r["score"]:.4f}</span>'
                        f"<p>ID: {r['id']}</p><p>{_esc(r['text'][:300])}</p>"
                        f"<p><small>{_esc(json.dumps(r['metadata']))}</small></p>"
                        "</div>"
                    )
            self._send("".join(body))

        def page_grep(self, q):
            # engine extension beyond the reference tabs: literal/regex/
            # fuzzy text search over stored documents (store.grep /
            # store.fuzzy_search)
            rx = " checked" if q.get("regex") == "on" else ""
            fz = " checked" if q.get("fuzzy") == "on" else ""
            body = [
                "<h2>Text Search (grep)</h2>",
                "<form method=get action=/grep>"
                f'<p><input type=text name=q value="{_esc(q.get("q", ""))}" '
                'placeholder="substring, regex, or fuzzy pattern"> '
                f"<label><input type=checkbox name=regex{rx}> regex</label> "
                f"<label><input type=checkbox name=fuzzy{fz}> fuzzy</label> "
                f'limit <input name=limit value="{_esc(q.get("limit", "20"))}" '
                "size=4> <button>Grep</button></p></form>",
            ]
            if q.get("q", "").strip():
                if q.get("fuzzy") == "on":
                    if q.get("regex") == "on":
                        raise VectoliteError(
                            "fuzzy and regex are mutually exclusive"
                        )
                    results = store.fuzzy_search(
                        q["q"].strip(), top_k=int(q.get("limit", "20"))
                    )
                else:
                    results = store.grep(
                        q["q"].strip(),
                        regex=q.get("regex") == "on",
                        limit=int(q.get("limit", "20")),
                    )
                body.append(f"<p>{len(results)} matches</p>")
                for r in results:
                    score = (
                        f' <span class=score>Sim: {r["score"]:.4f}</span>'
                        if "score" in r
                        else ""
                    )
                    body.append(
                        f"<div class=card><b>ID {r['id']}</b>{score}"
                        f"<p>{_esc(r['text'][:300])}</p>"
                        f"<p><small>{_esc(json.dumps(r['metadata']))}</small></p>"
                        "</div>"
                    )
            self._send("".join(body))

        def page_browse(self, q):
            limit = int(q.get("limit", "10"))
            offset = int(q.get("offset", "0"))
            total = store.count_documents()
            docs = store.list_documents(limit=limit, offset=offset)
            body = [
                "<h2>Browse All Documents</h2>",
                f"<p>Showing {offset + 1}-{min(offset + len(docs), total)} "
                f"of {total}</p>",
            ]
            for d in docs:
                body.append(
                    f"<div class=card><b>ID {d['id']}</b> | {d['created_at']}"
                    f"<p>{_esc(d.get('text', ''))}</p>"
                    f"<p><small>{_esc(json.dumps(d['metadata']))}</small></p>"
                    "<form method=post action=/delete>"
                    f'<input type=hidden name=id value={d["id"]}>'
                    "<button>Delete</button></form></div>"
                )
            prev_off = max(0, offset - limit)
            body.append(
                f'<p><a href="/browse?limit={limit}&offset={prev_off}">prev</a> '
                f'<a href="/browse?limit={limit}&offset={offset + limit}">next</a></p>'
            )
            self._send("".join(body))

        def page_manage(self, q):
            st = store.stats()
            body = [
                "<h2>Database Management</h2>"
                f"<p>Total Documents: <b>{st['document_count']}</b></p>"
                f"<p>Database Size: <b>{st['db_size_mb']} MB</b></p>"
                f"<p>Database Path: <b>{_esc(st['db_path'])}</b></p><hr>"
                "<h3>Danger Zone</h3>"
                "<form method=post action=/delete>"
                "<p>Document ID to delete: <input name=id size=8> "
                "<button>Delete Document by ID</button></p></form>"
            ]
            body.append("<hr><h3>Version History</h3>")
            for h in store.history():
                body.append(
                    f"<div class=card>v{h['version']} — {_esc(h['op'])} "
                    f"({h['n_dirs']} dirs) {_esc(h['committed_at'])} "
                    "<form method=post action=/rollback style=display:inline>"
                    f'<input type=hidden name=version value={h["version"]}>'
                    "<button>Rollback to this</button></form></div>"
                )
            self._send("".join(body))

    return Handler


def serve_ui(
    store, host: str = "127.0.0.1", port: int = 8765, batched: bool = True
) -> ThreadingHTTPServer:
    """Bind the UI server (port=0 for an ephemeral port). Caller runs
    ``.serve_forever()`` (or a thread does, in tests).

    ``batched`` (default on): search requests from this THREADED server
    are served by ``store.enable_batched_serving`` instead of one Spark
    job per request — job-per-query caps near ~30 q/s on the scheduler
    admission loop no matter the data size. A store that fits the
    resident budget answers from the driver; a larger one coalesces
    concurrent requests through its MicroBatcher into one job per
    dispatch cycle. Setup is lazy (first search builds the working set)
    and any store mutation tears it down, so Add-panel writes are
    immediately visible to the next search."""
    if batched and store.embed_fn is not None:
        store.enable_batched_serving()
    return ThreadingHTTPServer((host, port), make_handler(store))
