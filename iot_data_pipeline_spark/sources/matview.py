"""Versioned, atomically-published parquet snapshots (zones + mat views).

A rollup that dashboards hit thousands of times a day must not rescan
the fact table per query -- it gets materialized once per refresh cycle.
The publish step is the part that matters at scale: readers must never
see a half-written snapshot. Without a table format (Delta/Iceberg),
"overwrite in place" is NOT atomic on an object store -- a reader listing
mid-rewrite sees a torn directory, and Spark's ``mode=overwrite`` is
destructive-FIRST (the round-12 SIGKILL probe measured a killed refresh
leaving the zone EMPTY: old data deleted, new write never committed).
This module uses the classic version-directory pattern instead:

    <zone>/v=<N>/part-*.parquet   -- immutable snapshot N
    <zone>/_current               -- tiny pointer file: "N"

A refresh writes the FULL new snapshot under ``v=<N+1>``, then swaps the
pointer (write-temp + rename: rename is atomic on HDFS; on S3 the
single-object copy window is milliseconds on a byte-sized file). Readers
resolve the pointer once at plan time and then only ever list an
immutable directory. Old snapshots stay readable (in-flight queries,
time travel) until :func:`vacuum_snapshots` reclaims them.

Round 13 promotes this from the named-matview API to the default
crash-safe shape for any full-zone refresh: ``write_parquet(...,
atomic=True)`` (sources/sinks.py) publishes through
:func:`publish_snapshot`, and the engine's read boundary
(``read_table`` / the DuckDB oracle views) resolves the pointer
transparently, so a zone written atomically reads exactly like a plain
parquet directory -- but a killed or failed refresh always leaves the
PREVIOUS snapshot fully readable.

One function per zone-layout decision:

- ``sinks.write_parquet`` is the only code that chooses between a plain
  overwrite and :func:`publish_snapshot`; the maintenance rewrites
  (``compact_parquet``, ``rewrite_zordered``) build their frame and call
  it, and the named-view :func:`refresh` publishes directly;
- :func:`ensure_plain_zone` is the only refusal of a plain-layout write
  into a pointer zone;
- :func:`vacuum_snapshots` is the only retention call
  (the ``Engine`` facade's retention method delegates to it).

Name reservation: the snapshot directory is hive-spelled (``v=<N>``) so
a whole-root ``spark.read.parquet(zone)`` still unions every snapshot
with ``v`` as a partition column (time-travel listing), and readers that
auto-detect hive segments (DuckDB) can identify and drop it. An atomic
zone therefore RESERVES the top-level partition-column name ``v``; data
partition columns keep any other name.

All filesystem access goes through the Hadoop FileSystem API so the same
code runs on file://, hdfs://, and s3a:// paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_current"


class ConcurrentPublishError(RuntimeError):
    """A second publisher raced the same refresh slot (round-14: the
    slot is claimed by exclusive create, so the loser fails HERE --
    loud, before wasting the snapshot write -- instead of
    last-writer-winning the pointer and silently dropping the other
    refresh)."""


def _local_form(path: str) -> str | None:
    """The os-path form of ``path`` when it is local (plain,
    ``file:``, ``file://``, ``file://localhost``), else None (remote
    scheme or foreign authority: use the Hadoop FileSystem API)."""
    from urllib.parse import unquote, urlsplit

    if path.startswith("file:"):
        parts = urlsplit(path)
        if parts.netloc in ("", "localhost"):
            return unquote(parts.path)
        return None
    return None if "://" in path else path


def _parse_pointer(zone: str, text: str) -> int | None:
    """Version number from pointer-file text; None for an empty file.
    Garbage content fails LOUD naming the zone -- the pointer publish is
    temp-write + atomic rename, so a torn pointer should be impossible;
    corruption here means something else wrote the file."""
    text = text.strip()
    if not text:
        return None
    if not text.isdigit():
        raise ValueError(
            f"zone {zone!r}: snapshot pointer file {_POINTER!r} contains "
            f"{text[:40]!r}, not a version number -- the pointer publish "
            "is atomic, so this was written by something else; restore "
            "it to the latest good version (see snapshot_versions)"
        )
    return int(text)


def _jpath(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _read_text(spark: SparkSession, path: str) -> str | None:
    """UTF-8 text of the small metadata file at ``path`` (a pointer, a
    claim, a backfill manifest) through the Hadoop FileSystem API, or
    None when it does not exist."""
    fs, p, jvm = _jpath(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _view_root(root: str, name: str) -> str:
    return f"{root.rstrip('/')}/{name}"


def _snapshot_dir(zone: str, version: int) -> str:
    return f"{zone.rstrip('/')}/v={version}"


def current_snapshot_version(spark: SparkSession, zone: str) -> int | None:
    """Version the zone's pointer currently publishes, or None if the
    zone has never been atomically published (no ``_current`` file)."""
    text = _read_text(spark, f"{zone.rstrip('/')}/{_POINTER}")
    return None if text is None else _parse_pointer(zone, text)


def _has_snapshot_dirs(spark: SparkSession, zone: str, local: str | None) -> bool:
    """Whether the zone root contains any ``v=<N>`` snapshot directory
    (the shape only the atomic publisher creates -- the engine reserves
    the top-level hive name ``v=<int>`` for it, see the module note)."""
    import os
    import re

    if local is not None:
        try:
            entries = os.listdir(local)
        except (FileNotFoundError, NotADirectoryError):
            return False
        return any(
            re.fullmatch(r"v=\d+", e) and os.path.isdir(os.path.join(local, e))
            for e in entries
        )
    fs, p, _ = _jpath(spark, zone)
    if not fs.exists(p):
        return False
    for status in fs.listStatus(p):
        base = status.getPath().getName()
        if base.startswith("v=") and base[2:].isdigit() and status.isDirectory():
            return True
    return False


def resolve_snapshot_dir(spark: SparkSession, zone: str) -> str | None:
    """The published snapshot directory for ``zone``, or None when the
    path is not a versioned zone (the plain-directory read applies).

    Local paths short-circuit through ``os.path`` (no py4j round-trip:
    this sits on the engine's read boundary and runs once per table
    read); remote schemes go through the Hadoop FileSystem API.

    A MISSING pointer over a zone that nonetheless carries ``v=<N>``
    snapshot directories is never treated as plain (round-14 probe,
    measured as silent wrongness: the plain root read UNIONS every
    version with a spurious ``v`` column -- stale and current rows
    presented together as one table). That state is either the
    no-pointer window of the delete+rename fallback on stores without
    atomic rename (milliseconds -- a brief retry rides it out), a
    publisher crashed before its FIRST pointer write, or an
    operator-deleted pointer: after the retries it fails LOUD with the
    restore recipe. Plain zones pay one extra root listing on this
    path; the engine therefore reserves the top-level hive partition
    name ``v=<int>`` across every zone it reads (rename a genuine
    integer partition column ``v``)."""
    import os
    import time

    z = zone.rstrip("/")
    # Proper URI parse (round-14 advisor find): naive prefix stripping
    # turned the authority form 'file://host/tmp/zone' into the
    # RELATIVE string 'host/tmp/zone', so the os.path pointer probe
    # missed, the zone read as plain, and every ensure_plain_zone
    # guard silently bypassed. Empty/localhost authority is the local
    # filesystem; any other authority goes through the Hadoop
    # FileSystem branch (which fails loud on schemes it cannot serve,
    # never silently-plain).
    local = _local_form(z)
    delay = 0.02
    for attempt in range(6):
        if attempt:
            time.sleep(delay)
            delay *= 2
        v = found = None
        if local is not None:
            ptr = os.path.join(local, _POINTER)
            if os.path.isfile(ptr):
                found = True
                # The pointer can be deleted between the isfile probe and
                # the open (the delete+rename fallback's no-pointer
                # window, round-15 advisor find): treat a vanished file
                # as pointer-absent for THIS attempt and let the retry
                # loop -- which exists for exactly that window -- handle
                # it, instead of leaking an uncaught FileNotFoundError.
                try:
                    with open(ptr, encoding="utf-8") as fh:
                        v = _parse_pointer(z, fh.read())
                except FileNotFoundError:
                    found = None
        else:
            text = _read_text(spark, f"{z}/{_POINTER}")
            if text is not None:
                found = True
                v = _parse_pointer(z, text)
        if v is not None:
            return _snapshot_dir(z, v)
        if found:
            # pointer present but EMPTY: a stable state, not a swap
            # window -- plain read only when no snapshot dirs exist
            # (the same silent-union hazard applies otherwise)
            if _has_snapshot_dirs(spark, z, local):
                raise IOError(
                    f"zone {z!r}: the {_POINTER!r} pointer is EMPTY but "
                    "snapshot directories (v=<N>) exist -- a plain read "
                    "would silently union every version. Restore the "
                    "pointer to the latest good version "
                    "(snapshot_versions lists candidates), or remove "
                    "the v=<N> directories to return the zone to plain "
                    "layout."
                )
            return None
        if not _has_snapshot_dirs(spark, z, local):
            return None  # genuinely plain (or absent): no snapshot shape
    raise IOError(
        f"zone {z!r} contains snapshot directories (v=<N>) but no "
        f"{_POINTER!r} pointer after ~1s of retries. A plain read here "
        "would silently UNION every version. This is either a "
        "publisher crashed before its first pointer write, a deleted "
        "pointer, or a reader racing a pointer swap on a store without "
        "atomic rename. Restore the pointer to the latest good version "
        "(snapshot_versions lists candidates; write its number into "
        f"{z}/{_POINTER}), or remove the v=<N> directories to return "
        "the zone to plain layout."
    )


def ensure_plain_zone(spark: SparkSession, path: str, op: str) -> None:
    """Refuse to run a plain-layout writer against an atomically-published
    zone: its output would either land invisibly beside the snapshots or
    destroy them under the pointer (both measured, SCALE.md section 7e;
    a plain compaction silently deleted a zone's snapshots and pointer).

    The one refusal every plain-layout zone writer goes through:

    - ``sinks.write_parquet`` without ``atomic=True`` (and so
      ``maintenance.compact_parquet`` and ``rewrite_zordered``, which
      write through it);
    - ``backfill.backfill``, on its destination;
    - ``streaming.ingest.start_sensor_ingest``, at start and again in
      every micro-batch (an atomic publish can land mid-stream);
    - ``streaming.rollup.start_incremental_rollup`` and
      ``compact_rollup``."""
    if resolve_snapshot_dir(spark, path) is not None:
        raise ValueError(
            f"{op}: {path!r} is an atomically-published zone (_current "
            "pointer present); a plain-layout write would land invisibly "
            "beside its snapshots or destroy them under the pointer. "
            "Publish the next snapshot with write_parquet(atomic=True), "
            "or write to a separate plain directory (to convert the zone "
            "back to plain layout, move the current snapshot's files to "
            "the zone root, then remove the v=<N> directories and the "
            "pointer)."
        )


def _claim_path(zone: str, version: int) -> str:
    return f"{zone.rstrip('/')}/_claim.v={version}"


def _claim_slot(spark: SparkSession, zone: str, version: int) -> None:
    """Exclusively claim refresh slot ``v=<version>`` of ``zone`` by
    creating a tiny ``_claim.v=<N>`` marker with create-if-absent
    semantics (``os.O_EXCL`` locally, ``FileSystem.create(path,
    overwrite=false)`` remotely -- atomic on HDFS). An existing marker
    means another publisher is refreshing the same slot right now, or
    crashed mid-refresh: either way this publisher fails LOUD before
    writing anything, never last-writer-wins. The marker is removed on
    success and on in-process failure; only a hard crash leaves it,
    and the error text carries the remediation.

    Object-store posture: classic S3 semantics give ``create(path,
    overwrite=false)`` a small exists-then-create window (no exclusive
    create primitive in the Hadoop S3A contract), so on such stores the
    claim NARROWS the publisher race to that window instead of
    eliminating it -- still strictly better than the unclaimed
    last-writer-wins, and the verify-after-swap in publish_snapshot
    backstops the pointer. Stores with conditional-put support (S3
    If-None-Match via recent S3A, GCS preconditions, ABFS leases) get
    the full exclusive-create guarantee through the same call."""
    import datetime
    import os

    path = _claim_path(zone, version)
    content = (
        f"pid={os.getpid()} "
        f"at={datetime.datetime.now(datetime.timezone.utc).isoformat()}"
    )

    def _conflict(existing: str) -> ConcurrentPublishError:
        return ConcurrentPublishError(
            f"zone {zone!r}: refresh slot v={version} is already "
            f"claimed ({existing.strip() or 'no claim metadata'}). "
            "Another publisher is refreshing this zone concurrently "
            "(serialize refreshes: one publisher per zone), or a "
            "previous publisher crashed mid-refresh. If no refresh is "
            f"in flight, remove the stale claim with release_claim() "
            f"or delete {path!r} and retry."
        )

    local = _local_form(path)
    if local is not None:
        # first publish of a brand-new zone: the claim precedes the
        # snapshot write, so the zone directory may not exist yet
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(local, encoding="utf-8") as fh:
                    existing = fh.read()
            except OSError:
                existing = ""
            raise _conflict(existing) from None
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(content)
        return
    fs, p, _ = _jpath(spark, path)
    try:
        out = fs.create(p, False)  # overwrite=false: atomic on HDFS
    except Exception as e:
        if not fs.exists(p):
            raise  # a real IO failure, not a lost race
        existing = ""
        try:
            existing = _read_text(spark, path) or ""
        except Exception:  # noqa: BLE001 -- claim read is best-effort
            pass
        raise _conflict(existing) from e
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()


def release_claim(
    spark: SparkSession, zone: str, version: int | None = None
) -> list[int]:
    """Remove refresh-slot claim marker(s) left by a CRASHED publisher
    (operator remediation; a live publisher cleans up after itself).
    With ``version=None`` removes every claim on the zone. Returns the
    versions whose claims were removed."""
    import os
    import re

    zone = zone.rstrip("/")
    removed: list[int] = []
    local = _local_form(zone)
    if version is not None:
        targets = [version]
    elif local is not None:
        targets = [
            int(m.group(1))
            for f in (os.listdir(local) if os.path.isdir(local) else [])
            if (m := re.fullmatch(r"_claim\.v=(\d+)", f))
        ]
    else:
        fs, p, _ = _jpath(spark, zone)
        targets = []
        if fs.exists(p):
            for status in fs.listStatus(p):
                m = re.fullmatch(
                    r"_claim\.v=(\d+)", status.getPath().getName()
                )
                if m:
                    targets.append(int(m.group(1)))
    for v in targets:
        path = _claim_path(zone, v)
        plocal = _local_form(path)
        if plocal is not None:
            try:
                os.remove(plocal)
                removed.append(v)
            except FileNotFoundError:
                pass
        else:
            fs, p, _ = _jpath(spark, path)
            if fs.delete(p, False):
                removed.append(v)
    return sorted(removed)


def publish_snapshot(
    spark: SparkSession,
    zone: str,
    df: DataFrame,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Materialize ``df`` as the next snapshot of ``zone`` and publish
    it. Returns the new version number.

    The dataframe is fully written under the new version directory
    BEFORE the pointer moves: a crash or failure anywhere mid-write
    leaves an orphan directory and the pointer still naming the last
    good snapshot (the previous zone state stays fully readable -- the
    frozen crash tests in tests/test_atomic_publish.py kill a publisher
    mid-write and assert exactly that). Publication is the pointer
    swap -- one tiny-file overwrite-rename.

    One PUBLISHER per zone (the write_parquet contract), and since
    round 14 the contract is ENFORCED: the refresh slot ``v=N+1`` is
    claimed by exclusive create of a ``_claim.v=<N+1>`` marker before
    any data is written, so two concurrent publishers racing the same
    slot have exactly one winner -- the loser raises
    :class:`ConcurrentPublishError` immediately (no snapshot write, no
    pointer touch, no silently-lost refresh). The claim is removed on
    success and on in-process failure; a publisher that hard-crashes
    (SIGKILL) leaves its claim behind, blocking further refreshes LOUD
    until an operator confirms nothing is in flight and calls
    :func:`release_claim`. A verify-after-swap re-reads the pointer at
    the end and fails loud if a foreign writer (one bypassing the
    claim protocol) moved it mid-publish.

    MIGRATING a plain zone (part files at the zone root) to atomic
    publish works in place: the first publish_snapshot writes ``v=0``
    beside the old root files and every pointer-resolving reader
    (read_table, the oracle views) serves the snapshot from then on
    (probed + pinned: test_atomic_publish.py). The stale root files are
    dead weight, invisible to engine reads -- delete them once the
    first snapshot is verified; only a NON-resolving direct
    ``spark.read.parquet(zone)`` could still be confused by the mixed
    layout.
    """
    zone = zone.rstrip("/")
    prev = current_snapshot_version(spark, zone)
    version = 0 if prev is None else prev + 1
    _claim_slot(spark, zone, version)  # loser of a race raises HERE
    # Claim-then-verify (round-14 second wave): a publisher whose
    # ``prev`` read predates a COMPLETED competing publish can claim
    # the competitor's already-published slot after its claim was
    # released -- and would then overwrite the LIVE snapshot under the
    # pointer (torn reads for everyone mid-write, the competitor's
    # refresh silently replaced). The claim serializes only publishers
    # in the same slot window; this re-read catches the stale-window
    # one. If the pointer moved between the slot computation and the
    # claim, the slot is already published: release and fail loud
    # BEFORE any data write (a retry recomputes the next free slot).
    cur = current_snapshot_version(spark, zone)
    if cur != prev:
        release_claim(spark, zone, version)
        raise ConcurrentPublishError(
            f"zone {zone!r}: refresh slot v={version} was already "
            f"published by a concurrent publisher (pointer moved "
            f"{prev}->{cur} between slot computation and claim); "
            "writing would overwrite the LIVE snapshot. Retry to "
            f"publish as v={(cur or 0) + 1}."
        )
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(_snapshot_dir(zone, version))
        fs, tmp, jvm = _jpath(spark, f"{zone}/{_POINTER}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(version), "utf-8"))
        finally:
            out.close()
        final = jvm.org.apache.hadoop.fs.Path(f"{zone}/{_POINTER}")
        # Atomic replace via FileContext.rename(OVERWRITE): a plain
        # delete-then-rename opens a window where a concurrent reader
        # finds NO pointer and fails instead of serving the previous
        # snapshot -- exactly the contract this module advertises.
        # FileContext's overwrite rename is atomic on HDFS and local
        # filesystems; object stores without atomic rename fall back to
        # the tiny-file delete+rename window below.
        try:
            ren_cls = getattr(jvm, "org.apache.hadoop.fs.Options$Rename")
            # FileContext.rename is varargs: py4j needs a Java array
            opts = spark.sparkContext._gateway.new_array(ren_cls, 1)
            opts[0] = ren_cls.OVERWRITE
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                final.toUri(), spark._jsc.hadoopConfiguration()
            )
            fc.rename(tmp, final, opts)
        except Exception:
            fs.delete(final, False)
            if not fs.rename(tmp, final):
                raise IOError(
                    f"could not publish pointer for zone {zone!r}"
                )
        # Verify-after-swap: the claim serializes publishers that honor
        # the protocol; this catches the one that does not (a foreign
        # writer stomping the pointer mid-publish) -- fail loud, never
        # let the stomp pass as a successful refresh.
        after = current_snapshot_version(spark, zone)
        if after != version:
            raise ConcurrentPublishError(
                f"zone {zone!r}: pointer verify after publish reads "
                f"v={after}, expected v={version} -- a foreign writer "
                "moved the pointer mid-publish (bypassing the claim "
                "protocol); inspect the zone before trusting either "
                "refresh."
            )
    finally:
        release_claim(spark, zone, version)
    return version


def snapshot_versions(spark: SparkSession, zone: str) -> list[int]:
    """All snapshot versions present on storage (published or orphaned)."""
    fs, p, _ = _jpath(spark, zone.rstrip("/"))
    if not fs.exists(p):
        return []
    out = []
    for status in fs.listStatus(p):
        base = status.getPath().getName()
        if base.startswith("v=") and base[2:].isdigit():
            out.append(int(base[2:]))
    return sorted(out)


def vacuum_snapshots(
    spark: SparkSession,
    zone: str,
    keep: int = 1,
    keep_age_s: float | None = None,
) -> list[int]:
    """Delete snapshot directories outside the retention window:
    a version survives if it is among the newest ``keep`` published
    versions OR (when ``keep_age_s`` is given) its snapshot directory
    is younger than ``keep_age_s`` seconds -- both knobs are KEEP
    conditions; deletion requires falling outside both. Orphans ABOVE
    the pointer are always kept (they may be an in-flight refresh).
    Returns the versions removed.

    The age test reads the version directory's modification time --
    the moment its last data file landed, i.e. effectively its publish
    time. A keep-age window protects in-flight readers: a reader plans
    against the pointer once and then lists an immutable directory, so
    any vacuum with ``keep_age_s`` longer than the longest query keeps
    every directory a live plan can still reference (the
    read-during-vacuum probe in tests/test_atomic_publish.py freezes
    what happens WITHOUT that margin: the reader fails loud, never
    serves partial rows)."""
    import time

    # Lower-bound the retention knob (round-15 advisor find): keep=0
    # makes `v > cur - keep` false for v == cur, deleting the CURRENT
    # snapshot under a live pointer -- every subsequent read of the
    # zone then fails with PATH_NOT_FOUND. This is the only retention
    # call (the Engine facade's retention method delegates here).
    if keep < 1:
        raise ValueError(
            f"retention keep={keep!r} would delete the CURRENT published "
            "snapshot under a live pointer; the minimum is 1 (keep the "
            "published version)"
        )
    cur = current_snapshot_version(spark, zone)
    if cur is None:
        return []
    removed = []
    now_ms = time.time() * 1000.0
    for v in snapshot_versions(spark, zone):
        if v > cur - keep:
            continue  # within keep-N (also every orphan above the pointer)
        fs, p, _ = _jpath(spark, _snapshot_dir(zone, v))
        if keep_age_s is not None:
            try:
                status = fs.getFileStatus(p)
            except Exception:  # noqa: BLE001 -- a concurrent vacuum
                continue  # already removed this version: goal achieved
            age_ms = now_ms - status.getModificationTime()
            if age_ms < keep_age_s * 1000.0:
                continue  # younger than the retention age
        if fs.delete(p, True):
            removed.append(v)
    return removed


# --- named materialized-view API (the original surface; q174 time travel) ---


def refresh(spark: SparkSession, root: str, name: str, df: DataFrame) -> int:
    """Materialize ``df`` as the next snapshot of view ``name`` and
    publish it. Returns the new version number."""
    return publish_snapshot(spark, _view_root(root, name), df)


def read(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Read the published snapshot (or a pinned ``version`` for time
    travel). Raises FileNotFoundError when the view has never been
    refreshed."""
    zone = _view_root(root, name)
    if version is None:
        version = current_snapshot_version(spark, zone)
        if version is None:
            raise FileNotFoundError(f"materialized view {name!r} has no snapshot")
    return spark.read.parquet(_snapshot_dir(zone, version))
