"""Registry for per-query transient caches (round-15 optimization).

Several operators ``persist()`` an intermediate that is consumed more
than once inside ONE query's plan (the JSONL corrupt-split parse, the
quality expect/split pass, q145's shingle-hash frame). A ``persist()``
is pinned in Spark's CacheManager until an explicit ``unpersist()`` --
it is NOT GC-reclaimable like ``localCheckpoint`` blocks -- so a long-lived
session that runs hundreds of queries (the bench, the oracle harness, a
notebook) accumulates dead cached plans and their storage blocks
without bound (guide section 5: "unpersist when done").

The operators cannot unpersist themselves: the cache must stay alive
until the *caller* has executed the returned DataFrame. So they register
here, and batch drivers call :func:`release_transient_caches` after each
query's action completes. Frames NOT registered here (e.g. the bench's
deliberate session-shared pair-graph cache) are untouched. Code that
runs its own actions owns its cache instead: the sensor ETL body
(``pipeline._process_sensor_frame``, behind both ``run_batch_pipeline``
and the stream's micro-batch) persists its parse and unpersists it when
it ends, so of the JSONL path only ``readers.split_corrupt`` still
registers one here.

``unpersist(blocking=False)`` keeps the release itself ~free.

Intended for SINGLE-THREADED batch drivers (bench, oracle harness, CLI):
the registry is one module-level list, so a release issued from one
thread unpersists frames another thread may still be building on. The
lock below makes register/release individually atomic (no lost or
double-released entries), but it cannot give per-thread scoping --
long-lived multi-threaded consumers (e.g. a streaming foreachBatch that
calls expect_split) should simply never call release_transient_caches
and accept the session-lifetime cache, or unpersist their own frames.

Release-then-re-execute is shown safe for ONE registered frame only:
``readers.split_corrupt``'s parse, whose ``good`` and ``bad`` frames
recompute identically without the cache, released before or after
their first execution (frozen in tests/test_transient_caches.py; the
``bad`` frame needs the coalesce guard in ``readers.split_cached`` to
stay analyzable against the raw JSON scan). The ``quality.expect_split``
and ``llm.py`` tokenizer frames are not shown either way.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_TRANSIENT: list[DataFrame] = []
_LOCK = threading.Lock()


def transient_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register for the next release sweep."""
    df = df.persist()
    with _LOCK:
        _TRANSIENT.append(df)
    return df


def release_transient_caches() -> int:
    """Unpersist every registered frame; returns how many were released.

    Call it after each query's action has completed, in the
    single-threaded drivers this serves: a frame whose query is still
    executing is never registered-and-released concurrently there, and
    only the frames the module docstring names are shown to recompute
    identically once released. Unpersist on a dead context is swallowed
    (the session owning the frame may already be stopped)."""
    with _LOCK:
        frames, _TRANSIENT[:] = list(_TRANSIENT), []
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # stopped context / already-released frame
    return n
