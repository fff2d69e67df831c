"""Persisted-index lifecycle: the ready marker and CDF-driven sync.

Every index family (IVF, IVF-PQ, SRP, BM25, trigram) shares one
lifecycle, owned here:

- **Ready marker.** A builder's first step is ``clear_index_ready`` and
  its last is ``mark_index_ready``, which writes one ``_BUILT`` file at
  the index root, so a build (or rebuild) that dies part-way never reads
  as complete. ``index_ready`` is the only "is this index complete?"
  check: no caller inspects a family's subdirectories or their
  ``_SUCCESS`` files, and builders may write their artifacts in any
  order, concurrently.
- **Build parameters.** The marker is also the one record of how the
  index was built: a JSON object holding the family and the parameters
  its probes and appends need (SRP ``n_tables``/``n_planes``; IVF-PQ
  ``m``/``n_cells``/``pq_k``; BM25 and trigram ``n_buckets``).
  ``index_params`` reads it back with one file read and no Spark job,
  so no reader restates a build parameter, and a reader can never probe
  or append with values the index was not built with.
- **Watermark.** An index serving a VERSIONED table is bound to a
  ``SnapshotStore`` through a watermark file recording the last store
  version folded into the index. Each ``sync_*`` call consumes exactly
  ``store.read_changes(watermark, current)`` — delta bytes only, never a
  corpus rescan — and then advances the watermark. ``read_changes``' own
  rewrite-window refusal is inherited: a compact / delete / merge commit
  between syncs raises instead of replaying moved rows as inserts (the
  index must be REBUILT from that version and the watermark
  fast-forwarded, ``rebuild_and_fast_forward``).
- **Replay fence.** Before appending a delta, the sync records the
  pending window ``{v_from, v_to}`` in the watermark file; advancing the
  watermark clears it. A crash between the append and the watermark
  write therefore leaves the window on disk, and the next sync raises
  instead of appending the same rows again (IVF, SRP and IVF-PQ appends
  have no id-overlap guard of their own, so a replay would silently
  double-index them). Recovery is ``rebuild_and_fast_forward``, whose
  ``set_index_watermark`` clears the window. The fence is deliberately
  conservative: an append that failed before writing anything also
  requires the rebuild, because the sync cannot tell the two apart.

No reference counterpart (vectolite.py has neither indexes nor a
snapshot store) — north-star extension surface.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from vectolite_spark.errors import VectoliteError
from vectolite_spark.store import _HadoopFS

_WATERMARK = "_store_watermark.json"
_READY = "_BUILT"


def mark_index_ready(spark: SparkSession, index_path: str, params: dict) -> None:
    """Declare the index at ``index_path`` complete: every builder's last
    step, after all of its artifacts have landed. ``params`` (the
    ``family`` and the build parameters readers need) is stored in the
    marker as JSON for ``index_params``."""
    _HadoopFS(spark, index_path).write_text(
        f"{index_path}/{_READY}", json.dumps(params, sort_keys=True),
        overwrite=True,
    )


def clear_index_ready(spark: SparkSession, index_path: str) -> None:
    """Withdraw the ready marker: every builder's first step, so a
    rebuild over an existing index reads as incomplete until it ends."""
    fs = _HadoopFS(spark, index_path)
    if fs.exists(f"{index_path}/{_READY}"):
        fs.delete(f"{index_path}/{_READY}")


def index_ready(spark: SparkSession, index_path: str) -> bool:
    """True when a build of the index at ``index_path`` ran to the end."""
    return _HadoopFS(spark, index_path).exists(f"{index_path}/{_READY}")


def index_params(spark: SparkSession, index_path: str) -> dict:
    """The ``family`` and build parameters the ready marker of the index
    at ``index_path`` records. Raises ``VectoliteError`` when no build
    of it ran to the end, or when its marker predates recorded
    parameters: such an index must be rebuilt."""
    fs = _HadoopFS(spark, index_path)
    marker = f"{index_path}/{_READY}"
    if not fs.exists(marker):
        raise VectoliteError(
            f"no complete index at {index_path}: build it first"
        )
    try:
        params = json.loads(fs.read_text(marker))
    except json.JSONDecodeError:
        params = None
    if not isinstance(params, dict) or "family" not in params:
        raise VectoliteError(
            f"index at {index_path} was built before its ready marker "
            "recorded the build parameters; rebuild it with its build_* "
            "function"
        )
    return params


def _watermark_state(spark: SparkSession, index_path: str) -> dict | None:
    fs = _HadoopFS(spark, index_path)
    p = f"{index_path}/{_WATERMARK}"
    if not fs.exists(p):
        return None
    return json.loads(fs.read_text(p))


def _write_watermark(spark: SparkSession, index_path: str, state: dict) -> None:
    fs = _HadoopFS(spark, index_path)
    fs.mkdirs(index_path)
    fs.write_text(
        f"{index_path}/{_WATERMARK}", json.dumps(state), overwrite=True
    )


def index_watermark(spark: SparkSession, index_path: str) -> int:
    """Last store version folded into the index; -1 if never bound."""
    state = _watermark_state(spark, index_path)
    return -1 if state is None else int(state["version"])


def set_index_watermark(
    spark: SparkSession, index_path: str, version: int
) -> None:
    """Bind the index to a store version. Call once after the initial
    build (over ``store.read(version)``) and after any rebuild that
    crosses a rewrite commit; ``sync_*`` advances it automatically.
    Clears the pending window an interrupted sync left behind."""
    _write_watermark(spark, index_path, {"version": int(version)})


def _sync(store, index_path: str, append_fn) -> dict:
    spark = store.spark
    state = _watermark_state(spark, index_path)
    if state is None:
        raise VectoliteError(
            f"index at {index_path} has no store watermark — build it "
            "over store.read(v) first, then set_index_watermark(spark, "
            "index_path, v)"
        )
    if "pending" in state:
        w = state["pending"]
        raise VectoliteError(
            f"index at {index_path} has an interrupted sync of store "
            f"versions {w['v_from']}..{w['v_to']}: its delta may already "
            "be partly appended, and appending it again would double-index "
            "those rows. Recover with rebuild_and_fast_forward(store, "
            "index_path, build_fn)"
        )
    v_from = int(state["version"])
    v_to = store.current_version()
    if v_to <= v_from:
        return {"v_from": v_from, "v_to": v_from, "n_rows": 0}
    delta = store.read_changes(v_from, v_to)  # raises on rewrite windows
    # cache: the count job below and the append job would otherwise EACH
    # re-read every delta dir — doubling the "delta bytes only" IO this
    # module exists to provide
    delta = delta.cache()
    try:
        n = int(delta.count())
        if n:
            # the fence lands before the first appended byte and is
            # cleared only by the watermark advance below
            _write_watermark(
                spark,
                index_path,
                {"version": v_from, "pending": {"v_from": v_from, "v_to": v_to}},
            )
            append_fn(delta)
    finally:
        delta.unpersist(blocking=False)
    set_index_watermark(spark, index_path, v_to)
    return {"v_from": v_from, "v_to": v_to, "n_rows": n}


def sync_ivf_index(store, index_path: str, id_col: str = "vec_id") -> dict:
    """Fold every store commit since the watermark into the IVF index:
    one ``read_changes`` window (possibly spanning several appends),
    one centroid-routing matmul over the delta, one partitioned append
    into the cell layout. Returns {v_from, v_to, n_rows}."""
    from vectolite_spark.operators.ann import ivf_index_append

    return _sync(
        store,
        index_path,
        lambda delta: ivf_index_append(
            store.spark, index_path, delta, id_col=id_col
        ),
    )


def rebuild_and_fast_forward(
    store, index_path: str, build_fn, version: int | None = None
) -> dict:
    """The recovery path the sync refusals point to: when a rewrite
    commit (delete / compact / merge / rollback) lands inside the sync
    window, ``sync_*`` raises — moved rows are not inserts, and folding
    them in as deltas would double-index every moved row — and so does
    a sync that finds the pending window of an interrupted one. This helper
    rebuilds the index over the CURRENT snapshot and fast-forwards the
    watermark in one call:

        rebuild_and_fast_forward(
            store, idx, lambda df, p: build_trigram_index(df, p))

    ``build_fn(df, index_path)`` owns the build (each family's builder
    has its own knobs). The rebuild reads one snapshot-pinned table
    scan; at 100 TB that is the periodic-maintenance cost a rewrite
    commit already implies — the watermark loop keeps every OTHER cycle
    at delta cost. Returns {"version": v, "n_rows": n}.

    ``version`` pins the snapshot the rebuild covers (defaults to the
    current version at call time). Pinning lets a caller overlap the
    rebuild with LATER append commits from a driver thread (guide
    §2.6): the rebuild reads only the immutable pinned manifest, the
    watermark lands at exactly ``version``, and the next ``sync_*``
    folds exactly the commits past it — same end state as the
    sequential ordering."""
    v = store.current_version() if version is None else int(version)
    df = store.read(v).cache()  # build scan + report count: ONE table read
    try:
        build_fn(df, index_path)
        n = int(df.count())
    finally:
        df.unpersist(blocking=False)
    set_index_watermark(store.spark, index_path, v)
    return {"version": v, "n_rows": n}


def sync_srp_index(store, index_path: str, id_col: str = "vec_id") -> dict:
    """Fold every store commit since the watermark into the SRP-LSH
    index: the delta buckets with the planes its ready marker records
    and appends under its block dirs — block membership is a pure
    function of the vector, so append never degrades routing. Returns
    {v_from, v_to, n_rows}."""
    from vectolite_spark.operators.ann import srp_index_append

    return _sync(
        store,
        index_path,
        lambda delta: srp_index_append(
            store.spark, index_path, delta, id_col=id_col
        ),
    )


def sync_ivfpq_index(store, index_path: str, id_col: str = "vec_id") -> dict:
    """Fold every store commit since the watermark into the IVF-PQ
    index: delta vectors route to the frozen centroids and encode with
    the frozen codebook (``ivfpq_index_append``) — rebuild after heavy
    drift, then fast-forward the watermark. Returns
    {v_from, v_to, n_rows}."""
    from vectolite_spark.operators.ann import ivfpq_index_append

    return _sync(
        store,
        index_path,
        lambda delta: ivfpq_index_append(
            store.spark, index_path, delta, id_col=id_col
        ),
    )


def sync_bm25_index(
    store,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fold every store commit since the watermark into the BM25 v2
    index via ``append_bm25_index`` (delta postings into existing
    bucket dirs, termstats merge, exact integer n_docs/total_dl
    update — scores match a rebuild bit-for-bit). The doclen overlap
    guard turns a replayed delta into a loud error. Returns
    {v_from, v_to, n_rows}."""
    from vectolite_spark.operators.retrieval import append_bm25_index

    return _sync(
        store,
        index_path,
        lambda delta: append_bm25_index(
            delta, index_path, text_col=text_col, id_col=id_col
        ),
    )


def sync_trigram_index(
    store,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Fold every store commit since the watermark into the trigram
    index via ``append_trigram_index`` (delta postings into existing
    bucket dirs + stats merge). The overlap guard inside the append
    turns a replayed delta into a loud error instead of double-counted
    df stats. Returns {v_from, v_to, n_rows}."""
    from vectolite_spark.operators.retrieval import append_trigram_index

    return _sync(
        store,
        index_path,
        lambda delta: append_trigram_index(
            delta, index_path, text_col=text_col, id_col=id_col
        ),
    )
