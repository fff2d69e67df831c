"""Dynamic micro-batching for online similarity serving.

A single Spark job has a fixed scheduling floor (~0.2 s on this box at
ANY data size), and the DAGScheduler admits jobs through one event
loop — so per-query jobs cap out near ~30 queries/s no matter how many
client threads submit (measured, round 6). The store's online serving
(``SparkVectolite.enable_batched_serving``) therefore never pays one
job per query. It holds ONE working set in one slot, built by one
single-flight build over one frame (vec_id, embedding, text, metadata,
SRP bucket codes) and torn down by one invalidation. The build's
measured driver-memory budget (``resident_max_bytes``, default 256
MiB) picks the regime:

- **Resident** (the working set fits the budget): the frame is
  collected once onto the driver into numpy arrays (vectors, norms,
  bucket codes; the set keeps no frame) and every query — exact,
  filtered or SRP-approximate — is answered over those arrays with no
  Spark job at all.
- **Micro-batched** (over budget, or a zero budget): the frame is
  cached as one partition and two of this module's ``MicroBatcher``s
  share it, one ranking exactly and one running the SRP probe. The
  batch path is two orders of magnitude cheaper per query than a job
  each (one ``topk_batch`` job scores Q queries with a single
  (N_p x d) @ (d x Q) matmul per partition; ~3-4 ms/query at Q=100).
  The standard serving architecture bridging the two is DYNAMIC
  BATCHING, as used by model-inference servers (e.g. Triton's dynamic
  batcher, public docs): concurrent requests queue briefly, a
  dispatcher drains the queue into one batch job, and every waiter
  gets its own slice of the result.

Both regimes share the ranking contract of the per-job paths, and one
SRP probe body (``_pandas_udfs.srp_probe``) runs in either: over the
resident set's arrays on the driver, or inside the ANN batcher's
one-task job (``make_srp_serving_mapper``).

Latency/throughput contract of the batcher: a lone query pays at most
``max_wait_ms`` extra latency; under load the batch fills to
``max_batch`` and throughput approaches the batch path's per-query
cost. No result ever crosses queries: the batch job keys every row by
query_id.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import DataFrame


class MicroBatcher:
    """Thread-safe dynamic batcher over ``operators.topk.topk_batch``.

    ``query(qvec)`` blocks the calling thread until its result is ready
    and returns ``[(vec_id, score), ...]`` (k rows, ties id-asc — the
    flagship ordering). Concurrent callers are coalesced into one Spark
    job per dispatch cycle.
    """

    def __init__(
        self,
        embeddings: DataFrame,
        k: int = 10,
        max_batch: int = 64,
        max_wait_ms: float = 8.0,
        payload_cols: Sequence[str] = (),
        kernel=None,
    ):
        """``embeddings`` carries ``vec_id`` and ``embedding`` columns.

        ``payload_cols`` (optional): extra columns of ``embeddings``
        (e.g. text, metadata) carried onto the top-k rows INSIDE the
        batch job's mapper — callers that need result attributes (the
        store facade returns text+metadata) still pay exactly one Spark
        job per dispatch cycle, with no post-hoc join (a per-cycle
        broadcast-join measured ~9x slower end-to-end). With payload
        set, ``query`` returns ``[(vec_id, score, *payload_values)]``.

        ``kernel`` (optional): the ranking job to run per dispatch
        cycle — ``kernel(qids, qvecs, k) -> DataFrame`` with columns
        ``(query_id, vec_id, score, rn, *payload_cols)``, rn 1-based
        per query. Default is the exact cosine batch
        (``topk_batch_vecs`` over ``embeddings``); the store's ANN
        facade passes a ``make_srp_serving_mapper`` job over its cached
        working set instead, so concurrent approximate queries coalesce
        into ONE job exactly like exact ones (VERDICT r8 item 4). With
        a kernel set, ``embeddings`` may be None."""
        self._embs = embeddings
        self._kernel = kernel
        self._k = int(k)
        self._max_batch = int(max_batch)
        self._max_wait = max_wait_ms / 1000.0
        self._payload_cols = list(payload_cols)
        self._lock = threading.Condition()
        self._pending: list[tuple[list[float], threading.Event, dict]] = []
        self._dispatching = False
        self._closed = False

    def query(
        self, qvec: Sequence[float], k: int | None = None
    ) -> list[tuple[int, float]]:
        """``k`` (optional, <= the batcher's k): per-query fetch depth.
        A mixed cycle runs ONE job at the cycle's max depth and slices
        each caller's rows to its own k — so an over-fetching caller
        (the store's filtered facade) doesn't inflate every other
        caller's payload collect."""
        kq = self._k if k is None else min(int(k), self._k)
        done = threading.Event()
        slot: dict = {}
        with self._lock:
            # checked under the lock: a close() racing an unlocked check
            # could drain the queue between check and append, stranding
            # this waiter on an event nobody will ever set
            if self._closed:
                raise RuntimeError("MicroBatcher is closed")
            self._pending.append(([float(x) for x in qvec], kq, done, slot))
            # exactly one waiter becomes the dispatcher for each cycle;
            # everyone else parks on their event
            if not self._dispatching:
                self._dispatching = True
                dispatcher = True
            else:
                dispatcher = False
        if dispatcher:
            self._dispatch_cycle()
        done.wait()
        if "err" in slot:
            raise slot["err"]
        return slot["res"]

    def _dispatch_cycle(self) -> None:
        import time

        batch: list[tuple[list[float], threading.Event, dict]] = []
        try:
            # brief accumulation window: lets concurrent callers pile in
            # so the job amortizes; a lone query pays at most max_wait
            # extra
            deadline = time.time() + self._max_wait
            while time.time() < deadline:
                with self._lock:
                    if len(self._pending) >= self._max_batch or self._closed:
                        break
                time.sleep(self._max_wait / 4)
            with self._lock:
                batch = self._pending[: self._max_batch]
                del self._pending[: self._max_batch]
                # overflow beyond max_batch gets its OWN dispatcher thread
                # so its accumulation + Spark job overlap with ours — two
                # batch jobs run concurrently on the cluster instead of
                # tail-draining serially (the local[32] box fits several
                # 8-task jobs side by side; measured +~2x sustained q/s)
                if self._pending:
                    t = threading.Thread(
                        target=self._dispatch_cycle, daemon=True
                    )
                    t.start()
                else:
                    self._dispatching = False
            if not batch:  # close() drained the queue under us
                return
            results = self._run_batch(
                [b[0] for b in batch], [b[1] for b in batch]
            )
            for i, (_, _, done, slot) in enumerate(batch):
                slot["res"] = results[i]
                done.set()
        except BaseException as e:
            # Never strand a waiter or wedge the dispatch latch: anything
            # thrown ANYWHERE in the cycle (including Thread.start()
            # failing under resource pressure, which would otherwise
            # leave _dispatching True forever and park every later
            # query() indefinitely) fails this batch AND whatever is
            # still queued, then resets the latch so the batcher stays
            # usable.
            err = e if isinstance(e, Exception) else RuntimeError(repr(e))
            with self._lock:
                stranded = batch + self._pending
                self._pending = []
                self._dispatching = False
            for _, _, done, slot in stranded:
                slot["err"] = err
                done.set()

    def _run_batch(
        self, qvecs: list[list[float]], ks: list[int] | None = None
    ) -> list[list[tuple]]:
        from vectolite_spark.operators.topk import topk_batch_vecs

        ks = ks if ks is not None else [self._k] * len(qvecs)
        if self._kernel is not None:
            ranked = self._kernel(list(range(len(qvecs))), qvecs, max(ks))
        else:
            ranked = topk_batch_vecs(
                self._embs,
                list(range(len(qvecs))),
                qvecs,
                max(ks),
                payload_cols=self._payload_cols,
            )
        if len(set(ks)) > 1:
            # mixed depths: slice INSIDE the job so a deep over-fetcher
            # doesn't inflate every caller's payload collect
            from pyspark.sql import functions as F

            kmap = F.create_map(
                *[F.lit(v) for qid, kq in enumerate(ks) for v in (qid, kq)]
            )
            ranked = ranked.filter(
                F.col("rn") <= F.element_at(kmap, F.col("query_id"))
            )
        rows = ranked.select(
            "query_id", "vec_id", "score", "rn", *self._payload_cols
        ).collect()
        out: list[list[tuple]] = [[] for _ in qvecs]
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rn"])):
            if r["rn"] > ks[r["query_id"]]:
                continue  # deeper than this caller asked for
            rec = (r["vec_id"], float(r["score"]))
            if self._payload_cols:
                rec += tuple(r[c] for c in self._payload_cols)
            out[r["query_id"]].append(rec)
        return out

    def close(self) -> None:
        """Reject new queries AND wake every already-parked waiter with a
        clear error — a waiter whose batch never dispatches must not
        block forever on its event."""
        with self._lock:
            self._closed = True
            pending = self._pending
            self._pending = []
            # _dispatching is left to any live dispatcher to reset; it
            # will extract an empty batch and return.
        err = RuntimeError("MicroBatcher is closed")
        for _, _, done, slot in pending:
            slot["err"] = err
            done.set()
