"""Overlap independent Spark jobs from driver threads (guide §2.6).

Spark's scheduler runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
An index build that writes three artifacts (postings, doclen, stats)
as three back-to-back actions pays three fixed job launches AND
leaves the cluster idle through each job's straggler tail. Where the
artifacts are independent — different output directories, no
read-after-write between them — submitting them from a small thread
pool overlaps the launches and lets the next job's tasks back-fill
executors freed by the current job's tail. FIFO scheduling (the
default) gives exactly that back-fill behaviour.

Correctness notes:
- Results are unchanged: each thunk runs the identical plan it ran
  sequentially; only wall-clock submission order changes.
- Job descriptions/groups are thread-local in Spark, so a thunk that
  sets its own description labels only its own jobs.
- Build completion is one marker, not an artifact ordering: index
  builders may put every artifact write in the pool and call
  ``index_sync.mark_index_ready`` after the join; nothing reads an
  artifact's own ``_SUCCESS`` as "the index is complete".
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any, Callable

# -- conf-scope / job-pool mutual exclusion (VERDICT r12 item 4) ----------
#
# A session-conf scope (``conf_scope``: the small-graph loop confs of
# ``operators.dedup`` and the streaming state-partition confs) and
# concurrent driver-thread pools both touch the ONE shared SparkSession:
# a scope entered while a pool is draining would leak tiny-partition/
# AQE-off confs into whichever concurrent job plans next, and a pool
# started inside a scope runs every pooled job under confs its author
# never saw. Nothing in the codebase composes them today; this guard
# makes that invariant LOUD instead of implicit. Both sides register
# here; overlap raises immediately rather than silently degrading a
# concurrent large job.

_guard = threading.Lock()
_active_pools = 0
_active_conf_scopes = 0


class ConfScopeOverlapError(RuntimeError):
    """A session-conf scope and a run_jobs pool tried to overlap."""


def _pool_acquire() -> None:
    global _active_pools
    with _guard:
        if _active_conf_scopes:
            raise ConfScopeOverlapError(
                "run_jobs started inside an active session-conf scope: "
                "pooled jobs would silently plan under the scope's confs. "
                "Run the pool outside the scope."
            )
        _active_pools += 1


def _pool_release() -> None:
    global _active_pools
    with _guard:
        _active_pools -= 1


def _conf_scope_acquire() -> None:
    global _active_conf_scopes
    with _guard:
        if _active_pools:
            raise ConfScopeOverlapError(
                "session-conf scope entered while a run_jobs pool is "
                "active: the conf mutation would leak into concurrent "
                "jobs. Enter the scope outside the pool."
            )
        _active_conf_scopes += 1


def _conf_scope_release() -> None:
    global _active_conf_scopes
    with _guard:
        _active_conf_scopes -= 1


@contextmanager
def conf_scope(spark, confs: dict[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the block and restore them on exit,
    even on failure. A non-empty scope holds the pool guard, so it
    raises ``ConfScopeOverlapError`` while a ``run_jobs`` pool drains
    (and a pool started inside it raises); an empty one is a no-op. A
    failed set undoes the sets before it and releases the guard, and
    the original failure is the one reported."""
    if not confs:
        yield
        return
    _conf_scope_acquire()
    saved: dict[str, str] = {}
    try:
        for key, val in confs.items():
            saved[key] = spark.conf.get(key)
            spark.conf.set(key, val)
        yield
    finally:
        try:
            for key, val in saved.items():
                spark.conf.set(key, val)
        finally:
            _conf_scope_release()


def run_jobs(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent job-submitting thunks concurrently.

    Returns their results in call order. If any thunk raises, the
    earliest-listed failure is re-raised after every thunk has finished
    (no half-cancelled writes racing a caller's cleanup).
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    _pool_acquire()
    try:
        return _run_pool(thunks)
    finally:
        _pool_release()


def _run_pool(thunks: tuple[Callable[[], Any], ...]) -> list[Any]:
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        results: list[Any] = []
        first_err: BaseException | None = None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = e
                results.append(None)
        if first_err is not None:
            raise first_err
        return results
