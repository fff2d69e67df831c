"""CLI with the reference's command surface (SURVEY.md §2.7;
/root/reference/vectolite.py:424-648): add, query, ingest-file, stats,
delete, list, show — argparse-based (no typer dependency), driving the
SparkVectolite store.

Usage: python -m vectolite_spark.cli <command> [options]

The reference's --local/--remote/--model embedding flags map to
--embedder {stub,local,openai} --model ... --dim ...; the deterministic
stub is the default (the ML deps are optional, same gating as embed.py).
"""

from __future__ import annotations

import argparse
import json
import sys

from vectolite_spark.errors import VectoliteError


def _open_store(args):
    """Read-path store (no embedder needed)."""
    from vectolite_spark.session import get_spark
    from vectolite_spark.store import SparkVectolite

    spark = get_spark("vectolite-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return SparkVectolite(spark, args.db)


def _build_store(args):
    from vectolite_spark.embed import resolve_embed_fn, stub_embedder
    from vectolite_spark.session import get_spark
    from vectolite_spark.store import SparkVectolite

    spark = get_spark("vectolite-cli")
    spark.sparkContext.setLogLevel("ERROR")
    embedder = getattr(args, "embedder", "stub")
    if embedder == "stub":
        embed_fn = stub_embedder(dim=getattr(args, "dim", 64))
    else:
        embed_fn = resolve_embed_fn(
            getattr(args, "model", None), local=(embedder == "local")
        )
    return SparkVectolite(spark, args.db, embed_fn=embed_fn)


def _parse_metadata(raw: str | None) -> dict | None:
    if raw is None:
        return None
    try:
        meta = json.loads(raw)
    except json.JSONDecodeError as e:
        raise SystemExit(f"Error: invalid JSON metadata: {e}")  # exit 1, like the reference
    if not isinstance(meta, dict):
        raise SystemExit("Error: metadata must be a JSON object")
    return meta


def _preview(text: str, max_len: int) -> str:
    return text[: max_len] + "..." if len(text) > max_len else text


def cmd_add(args) -> None:
    store = _build_store(args)
    doc_id = store.insert(args.text, _parse_metadata(args.metadata))
    print(f"Added document with ID: {doc_id}")


def _print_results(results) -> None:
    if not results:
        print("No results found.")
        return
    for i, r in enumerate(results, 1):
        print(f"{i}. [id={r['id']}] score={r['score']:.4f}")
        print(f"   {_preview(r['text'], 200)}")
        if r["metadata"]:
            print(f"   metadata: {json.dumps(r['metadata'])}")


def cmd_query(args) -> None:
    store = _build_store(args)
    texts = args.text if isinstance(args.text, list) else [args.text]
    if len(texts) > 1:
        # many texts -> ONE batch job (store.query_many): a loop of
        # single queries pays the ~0.2s scheduling floor per text; the
        # batch path scores every query per partition in one pass
        if getattr(args, "hybrid", False) or getattr(args, "mmr", None) is not None:
            raise VectoliteError(
                "--hybrid/--mmr take a single query text; batch mode "
                "serves plain or --ann cosine search"
            )
        batches = store.query_many(
            texts, top_k=args.top_k, ann=getattr(args, "ann", False)
        )
        for t, results in zip(texts, batches):
            print(f"=== query: {t}")
            _print_results(results)
        return
    if getattr(args, "hybrid", False):
        if getattr(args, "mmr", None) is not None:
            raise VectoliteError(
                "--mmr applies to the cosine path only; drop --hybrid"
            )
        results = store.hybrid_query(texts[0], top_k=args.top_k)
    else:
        results = store.query(
            texts[0],
            top_k=args.top_k,
            ann=getattr(args, "ann", False),
            diversify=getattr(args, "mmr", None),
        )
    _print_results(results)


def cmd_ingest_file(args) -> None:
    from vectolite_spark.ingest import JSONL_SUFFIXES, ingest_files, ingest_jsonl

    store = _build_store(args)
    # .jsonl/.ndjson (optionally .gz) go through the corpus-ingest path
    # (one JSON doc per line); .txt/.md keep the reference's whole-file path
    fn = (
        ingest_jsonl
        if args.file.lower().endswith(JSONL_SUFFIXES)
        else ingest_files
    )
    n = fn(
        store,
        args.file,
        base_metadata=_parse_metadata(args.metadata),
        chunk=not args.no_chunk,
        max_chars=args.max_chars,
        overlap=args.overlap,
        embed_dim=args.dim,
    )
    print(f"Ingested {n} chunk(s) from {args.file}")


def cmd_stats(args) -> None:
    store = _open_store(args)  # read path needs no embedder
    st = store.stats()
    print(f"Documents: {st['document_count']}")
    print(f"Store size: {st['db_size_mb']} MB")
    print(f"Store path: {st['db_path']}")


def cmd_index(args) -> None:
    if not (args.text or args.ann):
        # validate BEFORE _open_store: no reason to pay Spark startup
        # just to print a usage error
        raise VectoliteError("index: pass --text and/or --ann")
    store = _open_store(args)
    if args.text:
        store.build_text_index()
        print("Built text (trigram) index.")
    if args.ann:
        store.build_ann_index()
        print("Built ANN (SRP-LSH) index.")


def cmd_delete(args) -> None:
    store = _open_store(args)
    if store.delete_document(args.doc_id):
        print(f"Deleted document {args.doc_id}")
    else:
        print(f"Document {args.doc_id} not found")


def cmd_list(args) -> None:
    store = _open_store(args)
    total = store.count_documents()
    docs = store.list_documents(
        limit=args.limit,
        offset=args.offset,
        include_text=not args.no_text,
        max_text=args.max_text,
    )
    if not docs:
        print("No documents.")
        return
    lo = args.offset + 1
    hi = min(args.offset + len(docs), total)
    print(f"Showing {lo}-{hi} of {total} documents")
    for d in docs:
        line = f"[{d['id']}] {d['created_at']}"
        if not args.no_text:
            line += f" ({d['full_text_length']} chars): {d['text']}"
        print(line)


def cmd_grep(args) -> None:
    store = _open_store(args)
    if args.fuzzy:
        if args.regex:
            raise VectoliteError("--fuzzy and --regex are mutually exclusive")
        results = store.fuzzy_search(args.pattern, top_k=args.limit)
    else:
        results = store.grep(args.pattern, regex=args.regex, limit=args.limit)
    if not results:
        print("No matches.")
        return
    for r in results:
        score = f" score={r['score']:.4f}" if "score" in r else ""
        print(f"[{r['id']}]{score} {_preview(r['text'], args.max_text)}")
        if r["metadata"]:
            print(f"   metadata: {json.dumps(r['metadata'])}")


def cmd_show(args) -> None:
    store = _open_store(args)
    d = store.get_document(args.doc_id)
    if d is None:
        print(f"Document {args.doc_id} not found")
        raise SystemExit(1)
    print(f"ID: {d['id']}")
    print(f"Created: {d['created_at']}")
    print(f"Length: {len(d['text'])} chars")
    print(f"Metadata: {json.dumps(d['metadata'])}")
    print(f"Text:\n{d['text']}")


def cmd_diff(args) -> None:
    from pyspark.sql import functions as F

    store = _open_store(args)
    d = store.diff(args.v_old, args.v_new).cache()
    try:
        counts = {
            r["change"]: r["n"]
            for r in d.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(
            f"v{args.v_old} -> v{args.v_new}: "
            f"{counts.get('added', 0)} added, {counts.get('removed', 0)} removed"
        )
        for r in d.orderBy("change", "id").limit(args.limit).collect():
            print(f"  {r['change']:<8} id={r['id']}")
    finally:
        d.unpersist(blocking=False)


def cmd_history(args) -> None:
    store = _open_store(args)
    hist = store.history()
    if not hist:
        print("No commits.")
        return
    for h in hist:
        print(
            f"v{h['version']:>4}  {h['op']:<14} {h['n_dirs']:>3} dir(s)  "
            f"{h['committed_at']}"
        )


def cmd_rollback(args) -> None:
    store = _open_store(args)
    v = store.rollback(args.version)
    print(f"Restored version {args.version} as new commit v{v}")


def cmd_vacuum(args) -> None:
    store = _open_store(args)
    out = store.vacuum(keep_versions=args.keep)
    print(
        f"Removed {out['removed_manifests']} manifest(s) and "
        f"{out['removed_dirs']} unreferenced data dir(s)"
    )


def cmd_ui(args) -> None:
    from vectolite_spark.ui import serve_ui

    store = _build_store(args)
    server = serve_ui(store, host=args.host, port=args.port)
    host, port = server.server_address[:2]
    print(f"Vectolite UI at http://{host}:{port}/ (Ctrl-C to stop)")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vectolite-spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, embed=True):
        sp.add_argument("--db", default="vectolite_store", help="store directory")
        if embed:
            sp.add_argument("--embedder", choices=["stub", "local", "openai"], default="stub")
            # reference-parity aliases (vectolite.py:424-447): --local /
            # --remote select the embedding backend directly
            sp.add_argument(
                "--local",
                action="store_const",
                const="local",
                dest="embedder",
                help="alias for --embedder local (reference flag)",
            )
            sp.add_argument(
                "--remote",
                action="store_const",
                const="openai",
                dest="embedder",
                help="alias for --embedder openai (reference flag)",
            )
            sp.add_argument("--model", default=None)
            sp.add_argument("--dim", type=int, default=64, help="stub embedder dim")

    sp = sub.add_parser("add", help="embed + insert one document")
    sp.add_argument("text")
    sp.add_argument("--metadata", help="JSON object")
    common(sp)
    sp.set_defaults(fn=cmd_add)

    sp = sub.add_parser("query", help="cosine top-k search")
    sp.add_argument(
        "text",
        nargs="+",
        help="one or more query texts; multiple texts run as ONE batch "
        "job instead of a job-per-query loop",
    )
    sp.add_argument("--top-k", type=int, default=3)
    sp.add_argument(
        "--hybrid",
        action="store_true",
        help="fuse BM25 over stored text with the cosine list (RRF)",
    )
    sp.add_argument(
        "--ann",
        action="store_true",
        help="probe the persisted SRP-LSH index (build-if-absent, "
        "auto-invalidated by mutations) instead of scanning",
    )
    sp.add_argument(
        "--mmr",
        type=float,
        default=None,
        metavar="LAMBDA",
        help="MMR diversity re-ranking: pick top-k maximizing "
        "LAMBDA*relevance - (1-LAMBDA)*max-sim-to-picked (1.0 = plain "
        "ranking, lower = more diverse); exact path only",
    )
    common(sp)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser(
        "ingest-file", help="chunk + embed + insert a .txt/.md or .jsonl corpus file"
    )
    sp.add_argument("file")
    sp.add_argument("--metadata", help="JSON object")
    sp.add_argument("--no-chunk", action="store_true")
    sp.add_argument("--max-chars", type=int, default=2000)
    sp.add_argument("--overlap", type=int, default=200)
    common(sp)
    sp.set_defaults(fn=cmd_ingest_file)

    sp = sub.add_parser("stats", help="document count + store size")
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser(
        "index", help="build persisted indexes (dropped on any mutation)"
    )
    sp.add_argument(
        "--text", action="store_true", help="trigram substring/regex index"
    )
    sp.add_argument(
        "--ann", action="store_true", help="SRP-LSH vector index"
    )
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser("delete", help="delete a document by id")
    sp.add_argument("doc_id", type=int)
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("list", help="paginated listing, newest first")
    sp.add_argument("--limit", type=int, default=10)
    sp.add_argument("--offset", type=int, default=0)
    sp.add_argument("--no-text", action="store_true")
    sp.add_argument("--max-text", type=int, default=100)
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_list)

    sp = sub.add_parser(
        "grep", help="case-insensitive substring/regex text search"
    )
    sp.add_argument("pattern")
    sp.add_argument(
        "--regex", action="store_true", help="treat PATTERN as a regex"
    )
    sp.add_argument(
        "--fuzzy",
        action="store_true",
        help="typo-tolerant trigram-similarity ranking",
    )
    sp.add_argument("--limit", type=int, default=20)
    sp.add_argument("--max-text", type=int, default=100)
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_grep)

    sp = sub.add_parser("show", help="full document by id")
    sp.add_argument("doc_id", type=int)
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_show)

    sp = sub.add_parser("history", help="commit log of the store")
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_history)

    sp = sub.add_parser(
        "rollback", help="restore an old version as a new commit"
    )
    sp.add_argument("version", type=int)
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_rollback)

    sp = sub.add_parser(
        "vacuum", help="drop old versions + unreferenced data dirs"
    )
    sp.add_argument("--keep", type=int, default=2, help="versions to retain")
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser(
        "diff", help="row ids added/removed between two versions"
    )
    sp.add_argument("v_old", type=int)
    sp.add_argument("v_new", type=int)
    sp.add_argument("--limit", type=int, default=20, help="sample ids shown")
    common(sp, embed=False)
    sp.set_defaults(fn=cmd_diff)

    sp = sub.add_parser(
        "ui", help="browse/search web UI (the reference's Streamlit surface)"
    )
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8765)
    common(sp)
    sp.set_defaults(fn=cmd_ui)
    return p


def main(argv: list[str] | None = None) -> None:
    args = make_parser().parse_args(argv)
    try:
        args.fn(args)
    except VectoliteError as e:
        print(f"Error: {e}", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
