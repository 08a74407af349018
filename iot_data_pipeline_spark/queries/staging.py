"""Per-process fixture-staging cache for file-surface queries.

Several declared queries exercise real file surfaces (JSONL ingest, CSV
round-trip, streaming sources), so they must first materialize fixture
files derived from the parquet testdata. Staging is deterministic in
``(kind, sf_dir)``, so within one process (the driver's correctness pass,
pytest, the bench loop) each fixture is built exactly once and reused --
round-1 lesson: per-query re-staging inflated the correctness pass enough
that the driver's budget covered only 50/124 queries.

The cache is process-local on purpose: a fresh process always re-stages,
so the write path under test (text/CSV/parquet/ORC sinks) still executes
at least once per run, and no state leaks across driver rounds.

Streaming checkpoints and sinks are NEVER cached -- only source fixtures.
A checkpoint reused across runs would make the stream a no-op.

Every directory handed out (cached fixtures AND fresh_dir outputs) is
registered for removal at process exit: scratch prefers RAM-backed
/dev/shm, where leaked fixtures are leaked memory, so long pytest/bench
sessions must not accumulate them.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

_CACHE: dict[tuple[str, str], str] = {}
_CREATED: list[str] = []

# conservative upper bound for one staged fixture / checkpoint dir at the
# driver's scale factors; if tmpfs has less free space than this, fall
# back to disk rather than risk exhausting shared memory mid-run.
_MIN_FREE_BYTES = 512 * 1024 * 1024


@atexit.register
def _cleanup() -> None:
    """Remove every scratch dir this process created (tmpfs is memory)."""
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)
    _CREATED.clear()
    _CACHE.clear()


def _scratch_base() -> str | None:
    """Prefer RAM-backed scratch for probe fixtures and checkpoints.

    Streaming state-store commits are many small fsync'd files; on the
    local harness /tmp is ext4 and those fsyncs dominate the stream-query
    wall time (measured: q53 ~3s steady-state at sf0.01, most of it
    commit I/O). tmpfs removes that. This affects ONLY the correctness/
    bench probe surface -- production pipelines pass their own durable
    checkpoint/output locations through the run_* APIs (a streaming
    checkpoint on tmpfs would not survive a node restart).

    Falls back to the tempfile default (TMPDIR or /tmp) when /dev/shm is
    absent, unwritable, or below the free-space floor -- exhausting tmpfs
    would fail arbitrary later allocations, not just ours."""
    base = "/dev/shm"
    if os.path.isdir(base) and os.access(base, os.W_OK):
        try:
            if shutil.disk_usage(base).free >= _MIN_FREE_BYTES:
                return base
        except OSError:
            pass
    return None  # tempfile default (TMPDIR or /tmp)


def _tracked_mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix, dir=_scratch_base())
    _CREATED.append(d)
    return d


def staged_fixture(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Return a directory containing the ``kind`` fixture for ``sf_dir``,
    building it with ``build(dir)`` on first use in this process."""
    key = (kind, sf_dir)
    if key not in _CACHE:
        d = _tracked_mkdtemp(f"idp_{kind}_")
        build(d)
        _CACHE[key] = d
    return _CACHE[key]


def batch_mtime_pinner(d: str) -> Callable[[], None]:
    """Pin micro-batch order for a staged streaming fixture.

    Spark's FileStreamSource orders files by modification time, so a
    fixture whose oracle encodes an EXACT micro-batch schedule
    (q167/q177/q189/q191: batch N's rows must enter the stream before
    batch N+1's) must not rely on append-write latency to keep mtimes
    distinct -- same-millisecond collisions on a coarse-timestamp
    filesystem could reorder batches and flip the hard-coded
    watermark keep/drop predictions (round-7 advice).

    Returns ``stamp()``; call it once after EACH batch write. Every
    data file not seen by a previous stamp gets an mtime strictly one
    second after the previous batch's, so batch order equals write
    order regardless of filesystem timestamp resolution. Metadata
    files (``_SUCCESS`` etc.) are ignored -- FileStreamSource skips
    them too.
    """
    seen: set[str] = set()
    # base well in the past: pinned mtimes must never land ahead of a
    # later batch's natural write time
    state = {"t": int(os.stat(d).st_mtime) - 86_400}

    def stamp() -> None:
        state["t"] += 1
        for name in sorted(os.listdir(d)):
            if name.startswith(("_", ".")) or name in seen:
                continue
            seen.add(name)
            os.utime(os.path.join(d, name), (state["t"], state["t"]))

    return stamp


def fresh_dir(kind: str) -> str:
    """A unique NON-cached work dir (checkpoints, sinks, outputs)."""
    return _tracked_mkdtemp(f"idp_{kind}_")

