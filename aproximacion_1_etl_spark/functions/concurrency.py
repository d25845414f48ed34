"""Driver-side job overlap (spark_optimization_guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; independent driver-blocking actions are only sequential
because the driver calls them sequentially. ``overlap`` runs
independent thunks (each typically ending in an eager
``localCheckpoint`` / ``collect`` / ``count``) through a small thread
pool so each job's straggler tail is back-filled by its siblings'
tasks — the device the RTBF audit introduced in r13, factored out for
the report/retrain keys that run 2-4 independent evaluation chains.

Thunks submit Spark jobs but never mutate shared session state. A
memoized artifact a thunk touches is safe to request from several
threads at once: ``queries.common.artifact`` builds each key once.

On a thunk failure the remaining futures are cancelled where still
queued, every already-running sibling is awaited, and the FIRST
failure re-raises — a partial evaluation never keeps driving jobs
during unwind.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any

_MAX_WORKERS = 4


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent driver-blocking thunks concurrently; return
    their results in call order (results are slotted, so composing a
    fixed-order report from them is deterministic)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    n = min(len(thunks), _MAX_WORKERS)
    with ThreadPoolExecutor(max_workers=n) as pool:
        futures = [pool.submit(t) for t in thunks]
        _done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        for p in pending:
            # only cancels thunks still queued; running siblings are
            # awaited below so unwind never races live jobs
            p.cancel()
        wait(futures)
        first_err = None
        for f in futures:
            if f.cancelled():
                continue
            err = f.exception()
            if err is not None and first_err is None:
                first_err = err
        if first_err is not None:
            raise first_err
        return [f.result() for f in futures]
