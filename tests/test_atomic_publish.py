"""Crash-safe atomic zone refresh (round-13 verdict task 1).

The round-12 SIGKILL probe measured Spark's ``mode=overwrite`` leaving a
refreshed zone EMPTY when the driver dies mid-write (old data deleted
before the new write commits). ``write_parquet(atomic=True)`` publishes
through the matview write-then-swap instead (``<zone>/v=<N>`` + a tiny
``_current`` pointer), and the engine's read boundary resolves the
pointer transparently. These tests freeze the contract:

- a zone published atomically round-trips bit-identically through
  ``read_table`` (flat AND partitioned), and through the DuckDB oracle
  views (both engines resolve the same snapshot);
- a FAILED refresh (the write job raises) leaves the previous snapshot
  fully readable and the pointer untouched;
- a KILLED refresh (SIGKILL mid-write, the round-12 probe shape, now
  deterministic: the parent kills the publisher the moment the new
  version directory appears) leaves the previous snapshot fully
  readable;
- an in-flight reader planned against the old snapshot still collects
  it AFTER a new version publishes (immutable dirs, old-or-new, never
  torn).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import Row

from iot_data_pipeline_spark.sources.matview import (
    current_snapshot_version,
    resolve_snapshot_dir,
    snapshot_versions,
    vacuum_snapshots,
)
from iot_data_pipeline_spark.sources.readers import read_table
from iot_data_pipeline_spark.sources.sinks import write_parquet


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_atomic_roundtrip_read_table_flat_and_partitioned(
    spark, sf_dir, tmp_path
):
    zone_dir = str(tmp_path / "zone")
    os.makedirs(zone_dir)
    ev = read_table(spark, sf_dir, "events")
    write_parquet(ev, f"{zone_dir}/events.parquet", atomic=True)
    assert current_snapshot_version(spark, f"{zone_dir}/events.parquet") == 0
    back = read_table(spark, zone_dir, "events")
    assert _rows(back) == _rows(ev)
    # partitioned snapshot: partition column round-trips through the
    # resolved snapshot dir (basePath = the v=N dir, so `v` never
    # surfaces as a column)
    write_parquet(
        ev,
        f"{zone_dir}/events.parquet",
        partition_by=("event_type",),
        atomic=True,
    )
    back2 = read_table(spark, zone_dir, "events")
    assert set(back2.columns) == set(ev.columns)
    assert _rows(back2.select(*ev.columns)) == _rows(ev)
    assert snapshot_versions(spark, f"{zone_dir}/events.parquet") == [0, 1]
    # vacuum keeps the published version
    assert vacuum_snapshots(spark, f"{zone_dir}/events.parquet") == [0]
    back3 = read_table(spark, zone_dir, "events")
    assert back3.count() == ev.count()


def test_failed_refresh_preserves_previous_zone(spark, tmp_path):
    """The write job RAISES mid-refresh (a task-level failure, the
    deterministic twin of the crash): the pointer never moves and the
    previous snapshot serves every read."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    zone = str(tmp_path / "z" / "t.parquet")
    old = spark.createDataFrame([Row(id=i, val=i * 10) for i in range(5)])
    write_parquet(old, zone, atomic=True)

    @F.udf(LongType())
    def boom(x):
        raise RuntimeError("refresh failed mid-write")

    bad = spark.range(100).select(boom(F.col("id")).alias("id"))
    with pytest.raises(Exception):
        write_parquet(bad, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 0
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(old)
    # vacuum never deletes an orphan ABOVE the pointer (it may be an
    # in-flight refresh), and the next successful publish reclaims the
    # orphan version slot via its own overwrite
    assert vacuum_snapshots(spark, zone) == []
    new = spark.createDataFrame([Row(id=9, val=90)])
    write_parquet(new, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 1
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(new)


def test_in_flight_reader_survives_publish(spark, tmp_path):
    """A reader planned before a refresh still collects the OLD snapshot
    after the pointer swaps (immutable version dirs): old-or-new, never
    torn, never empty."""
    zone = str(tmp_path / "z" / "t.parquet")
    old = spark.createDataFrame([Row(id=i) for i in range(3)])
    write_parquet(old, zone, atomic=True)
    in_flight = read_table(spark, str(tmp_path / "z"), "t")
    in_flight.count()  # plan + first collect against v=0
    new = spark.createDataFrame([Row(id=i) for i in range(100, 110)])
    write_parquet(new, zone, atomic=True)
    # the in-flight plan still reads its immutable snapshot...
    assert _rows(in_flight) == _rows(old)
    # ...while a fresh read resolves the new pointer
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(new)
    assert resolve_snapshot_dir(spark, zone).endswith("v=1")


_KILL_CHILD = """
import sys
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from iot_data_pipeline_spark.session import build_session
from iot_data_pipeline_spark.sources.sinks import write_parquet

zone = sys.argv[1]
spark = build_session("atomic-kill-child", master="local[2]",
                      shuffle_partitions=2)

@F.udf(LongType())
def slow(x):
    import time
    time.sleep(0.05)
    return x

df = spark.range(0, 4000, 1, 8).select(
    F.col("id"), slow(F.col("id")).alias("val")
)
print("CHILD_PUBLISHING", flush=True)
write_parquet(df, zone, atomic=True)
print("CHILD_DONE", flush=True)
"""


def test_sigkill_mid_publish_preserves_previous_zone(spark, tmp_path):
    """The round-12 probe shape, frozen deterministically: a publisher
    process is SIGKILLed the moment its new version directory appears
    (the write has seconds left -- 4000 rows x 50ms through a
    throttled UDF), long before the pointer swap. The zone must read
    EXACTLY the previous snapshot; plain ``mode=overwrite`` measured
    EMPTY here."""
    zone = str(tmp_path / "z" / "t.parquet")
    old = spark.createDataFrame([Row(id=i, val=i * 2) for i in range(7)])
    write_parquet(old, zone, atomic=True)

    script = str(tmp_path / "child.py")
    with open(script, "w", encoding="utf-8") as fh:
        fh.write(_KILL_CHILD)
    env = dict(os.environ)
    # python puts the SCRIPT's dir on sys.path, not the cwd: the child
    # needs the repo root explicitly to import the package
    env["PYTHONPATH"] = "/root/repo" + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    child = subprocess.Popen(
        [sys.executable, script, zone],
        cwd="/root/repo",
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        v1 = os.path.join(zone, "v=1")
        deadline = time.time() + 180
        while time.time() < deadline:
            if os.path.isdir(v1):
                break
            if child.poll() is not None:
                pytest.fail("publisher exited before creating v=1")
            time.sleep(0.05)
        else:
            pytest.fail("publisher never created v=1 within 180s")
        child.send_signal(signal.SIGKILL)
        child.wait(timeout=30)
    finally:
        if child.poll() is None:
            child.kill()
    # the kill landed: pointer untouched, previous snapshot intact
    assert current_snapshot_version(spark, zone) == 0
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(old)
    # round 14: the killed publisher's slot claim persists, so the next
    # refresh is blocked LOUD (never a silent race with a maybe-alive
    # publisher) until the operator confirms and releases it
    from iot_data_pipeline_spark.sources.matview import (
        ConcurrentPublishError,
        release_claim,
    )

    retry = spark.createDataFrame([Row(id=1, val=2)])
    with pytest.raises(ConcurrentPublishError, match="already claimed"):
        write_parquet(retry, zone, atomic=True)
    assert release_claim(spark, zone) == [1]
    write_parquet(retry, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 1
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(retry)


def test_concurrent_publishers_one_fails_loud_no_lost_update(
    spark, tmp_path
):
    """Round-14 verdict task 1 frozen: two publishers racing the same
    ``v=N+1`` slot previously last-writer-won the pointer -- the
    loser's refresh silently forgotten. The slot is now claimed by
    exclusive create BEFORE any data write: exactly one publisher
    wins; the other raises ConcurrentPublishError immediately (no
    snapshot write, no pointer touch), and retrying after the winner
    finishes lands in the next slot. Nothing is silently lost.

    The in-flight publisher is a real second process (the SIGKILL
    harness's slow-UDF child, left to run to completion); the loser is
    this process, racing while the child holds the claim."""
    from iot_data_pipeline_spark.sources.matview import (
        ConcurrentPublishError,
        publish_snapshot,
    )

    zone = str(tmp_path / "z" / "t.parquet")
    old = spark.createDataFrame([Row(id=i, val=i) for i in range(3)])
    write_parquet(old, zone, atomic=True)

    script = str(tmp_path / "child.py")
    with open(script, "w", encoding="utf-8") as fh:
        fh.write(_KILL_CHILD)
    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    child = subprocess.Popen(
        [sys.executable, script, zone],
        cwd="/root/repo",
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        claim = os.path.join(zone, "_claim.v=1")
        deadline = time.time() + 180
        while time.time() < deadline:
            if os.path.isfile(claim):
                break
            if child.poll() is not None:
                pytest.fail("publisher exited before claiming v=1")
            time.sleep(0.02)
        else:
            pytest.fail("publisher never claimed v=1 within 180s")
        # the race: this process loses LOUD, before writing anything
        mine = spark.createDataFrame([Row(id=99, val=99)])
        with pytest.raises(ConcurrentPublishError, match="already claimed"):
            publish_snapshot(spark, zone, mine)
        # the loser wrote nothing into the contended slot and the
        # pointer never moved (the child is still mid-write)
        assert current_snapshot_version(spark, zone) == 0
        assert child.poll() is None, "child died during the race"
        assert child.wait(timeout=300) == 0
    finally:
        if child.poll() is None:
            child.kill()
    # the WINNER's refresh is published -- not lost to the loser
    assert current_snapshot_version(spark, zone) == 1
    assert read_table(spark, str(tmp_path / "z"), "t").count() == 4000
    # and the loser's retry lands cleanly in the NEXT slot
    mine = spark.createDataFrame([Row(id=99, val=99)])
    assert publish_snapshot(spark, zone, mine) == 2
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == _rows(mine)


def test_failed_refresh_releases_claim_and_verify_after_swap(
    spark, tmp_path
):
    """Claim lifecycle seams: an in-process FAILED refresh releases its
    claim (retries need no operator action -- only a hard crash leaves
    residue), and a foreign writer stomping the pointer mid-publish is
    caught by the verify-after-swap instead of reading back as a
    successful refresh."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from iot_data_pipeline_spark.sources import matview as mv

    zone = str(tmp_path / "z" / "t.parquet")
    write_parquet(spark.createDataFrame([Row(id=1)]), zone, atomic=True)

    @F.udf(LongType())
    def boom(x):
        raise RuntimeError("refresh failed mid-write")

    bad = spark.range(10).select(boom(F.col("id")).alias("id"))
    with pytest.raises(Exception):
        write_parquet(bad, zone, atomic=True)
    assert not os.path.exists(os.path.join(zone, "_claim.v=1"))  # released
    good = spark.createDataFrame([Row(id=2)])
    assert mv.publish_snapshot(spark, zone, good) == 1  # no residue block

    # foreign pointer stomp landing in the swap-to-verify window (a
    # writer bypassing the claim protocol): inject the stomp just
    # before the verify's genuine pointer re-read -- the verify must
    # read the REAL file, see the foreign version, and fail loud
    real_read = mv.current_snapshot_version
    calls = {"n": 0}

    def stomp_before_verify_read(spark_, zone_):
        calls["n"] += 1
        # 1 = prev read at entry, 2 = post-claim verify (the stale-prev
        # window check), 3 = the post-SWAP verify under test here
        if calls["n"] == 3:
            # a real foreign writer goes through the FS API and keeps
            # the checksum consistent; drop the sidecar crc to match
            try:
                os.remove(os.path.join(zone, "._current.crc"))
            except FileNotFoundError:
                pass
            with open(os.path.join(zone, "_current"), "w") as fh:
                fh.write("7")  # the foreign stomp
        return real_read(spark_, zone_)

    mv.current_snapshot_version = stomp_before_verify_read
    try:
        with pytest.raises(
            mv.ConcurrentPublishError, match="foreign writer"
        ):
            mv.publish_snapshot(spark, zone, spark.createDataFrame([Row(id=3)]))
    finally:
        mv.current_snapshot_version = real_read
    # the loud failure left the foreign state visible, never masked
    assert real_read(spark, zone) == 7


def test_duck_oracle_resolves_atomic_zone(spark, sf_dir, tmp_path):
    """The DuckDB oracle views resolve the `_current` pointer exactly
    like read_table, so an atomically-published corpus oracle-checks
    end to end (the --atomic engine round-trip sweep runs the full
    registry over this path)."""
    import shutil

    from iot_data_pipeline_spark.sources.readers import TABLES
    from tests.oracle_harness import duck_connection

    d = str(tmp_path / "sfdir")
    os.makedirs(d)
    for t in TABLES:
        if t == "events":
            continue
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    ev = read_table(spark, sf_dir, "events")
    write_parquet(ev, f"{d}/events.parquet", atomic=True)
    con = duck_connection(d)
    n_duck = con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    assert n_duck == ev.count()
    assert "v" not in [
        r[0] for r in con.execute("DESCRIBE events").fetchall()
    ]


def test_duck_oracle_mirrors_pointer_parse_semantics(spark, sf_dir, tmp_path):
    """Round-14 advisor find: the oracle's pointer resolution diverged
    from the engine's _parse_pointer on three inputs. Frozen parity:

    - EMPTY pointer text: engine reads the plain directory; the oracle
      used to build the nonexistent '<zone>/v=' path and crash;
    - garbage pointer: both fail LOUD (never a silent divergence);
    - a flat snapshot with a genuine DATA column named ``v``: DuckDB's
      hive auto-detection used to override it with the machinery
      version segment AND the later filter dropped it entirely -- now
      served verbatim, matching read_table."""
    import shutil

    from iot_data_pipeline_spark.sources.readers import TABLES
    from tests.oracle_harness import duck_connection

    d = str(tmp_path / "sfdir")
    os.makedirs(d)
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")

    zone = f"{d}/events.parquet"
    df = spark.createDataFrame([Row(id=1, v="data-a"), Row(id=2, v="data-b")])
    write_parquet(df, zone, atomic=True)
    con = duck_connection(d)
    got = sorted(con.execute("SELECT id, v FROM events").fetchall())
    assert got == [(1, "data-a"), (2, "data-b")]
    assert _rows(read_table(spark, d, "events")) == got

    # empty pointer: engine treats the zone as plain; oracle must too
    import shutil as _sh

    _sh.rmtree(zone)
    spark.createDataFrame([Row(id=7)]).write.parquet(zone)
    open(f"{zone}/_current", "w").close()  # empty pointer file
    assert resolve_snapshot_dir(spark, zone) is None
    con2 = duck_connection(d)
    assert con2.execute("SELECT id FROM events").fetchall() == [(7,)]

    # garbage pointer: loud on BOTH sides
    with open(f"{zone}/_current", "w") as fh:
        fh.write("banana")
    with pytest.raises(ValueError, match="not a version number"):
        resolve_snapshot_dir(spark, zone)
    with pytest.raises(ValueError, match="not a version number"):
        duck_connection(d)


def test_plain_zone_migrates_in_place(spark, tmp_path):
    """A zone born as plain part files can adopt atomic publish in
    place: the first snapshot publishes beside the old root files and
    pointer-resolving readers serve it from then on (the stale root
    files become invisible dead weight -- cleanup hygiene, not a
    correctness hazard)."""
    d = str(tmp_path / "z")
    zone = f"{d}/t.parquet"
    old = spark.createDataFrame([Row(id=10, val=20)])
    old.write.parquet(zone)  # plain, pre-atomic era
    new = spark.createDataFrame([Row(id=11, val=22)])
    write_parquet(new, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 0
    assert _rows(read_table(spark, d, "t")) == _rows(new)
    # the oracle view resolves identically (never the stale root files)
    import shutil

    from iot_data_pipeline_spark.sources.readers import TABLES
    from tests.oracle_harness import duck_connection

    for t in TABLES:
        if t != "t" and t != "events":
            shutil.copy(
                f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet"
            )
    shutil.copy(f"/root/testdata/sf0.001/events.parquet", f"{d}/events.parquet")
    con = duck_connection(d)
    # 't' is not a registered table name; read the zone through the same
    # resolution the views use
    ptr = f"{zone}/_current"
    v = open(ptr).read().strip()
    got = con.execute(f"SELECT id, val FROM '{zone}/v={v}/*.parquet'").fetchall()
    assert got == [(11, 22)]


def test_corrupt_pointer_fails_loud_naming_the_zone(spark, tmp_path):
    """The pointer publish is temp-write + atomic rename, so a torn
    pointer should be impossible; garbage content means a foreign
    writer. Both resolution paths fail loud naming the zone instead of
    a bare int() traceback; an EMPTY pointer means never-published
    (plain-directory read)."""
    zone = str(tmp_path / "z" / "t.parquet")
    df = spark.createDataFrame([Row(id=1)])
    write_parquet(df, zone, atomic=True)
    with open(os.path.join(zone, "_current"), "w") as fh:
        fh.write("garbage\n")
    # a foreign writer leaves no Hadoop CRC sidecar; with a stale one
    # the JVM path fails ChecksumException instead (equally loud)
    crc = os.path.join(zone, "._current.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="t.parquet"):
        read_table(spark, str(tmp_path / "z"), "t")
    with pytest.raises(ValueError, match="not a version number"):
        current_snapshot_version(spark, zone)
    # empty pointer OVER SNAPSHOT DIRS (round 14): no longer a silent
    # fall-back to the plain read -- that unioned every version; loud
    # with the restore recipe instead. (An empty pointer on a zone
    # with no v=<N> dirs still reads plain --
    # test_duck_oracle_mirrors_pointer_parse_semantics.)
    with open(os.path.join(zone, "_current"), "w") as fh:
        fh.write("")
    with pytest.raises(IOError, match="EMPTY"):
        resolve_snapshot_dir(spark, zone)


def test_resolution_via_file_uri_and_bounded_read(spark, tmp_path):
    """Pointer resolution covers the other read shapes: a file:// URI
    spelling of the zone (the pyarrow/Hadoop composed-URI path other
    reader seams exercise) and a bounded read_table, which goes through
    the same resolved snapshot."""
    zone = str(tmp_path / "z" / "t.parquet")
    df = spark.createDataFrame([Row(id=1, val=2)])
    write_parquet(df, zone, atomic=True)
    assert resolve_snapshot_dir(spark, f"file://{zone}") == f"file://{zone}/v=0"
    got = read_table(spark, str(tmp_path / "z"), "t")
    assert _rows(got) == _rows(df)
    # and with a bound, through the same resolved snapshot
    got2 = read_table(
        spark, str(tmp_path / "z"), "t", bounds={"id": ((">=", 0),)}
    )
    assert _rows(got2) == _rows(df)


def test_resolution_handles_authority_form_file_uris(spark, tmp_path):
    """Round-14 advisor find: naive prefix-stripping turned the
    authority form ``file://localhost/tmp/zone`` into the RELATIVE
    string ``localhost/tmp/zone``, so the os.path pointer probe missed,
    the zone silently read as PLAIN (a root read unions every snapshot
    with a spurious ``v`` column) and every ensure_plain_zone writer
    guard was bypassed. Empty/localhost authority now parses to the
    local path; a foreign authority goes to the Hadoop branch and fails
    LOUD (Wrong FS), never silently-plain."""
    from iot_data_pipeline_spark.sources.matview import ensure_plain_zone

    zone = str(tmp_path / "auth_zone")
    write_parquet(spark.createDataFrame([Row(id=1)]), zone, atomic=True)
    for form in (zone, f"file:{zone}", f"file://{zone}", f"file://localhost{zone}"):
        assert resolve_snapshot_dir(spark, form) == f"{form}/v=0", form
        with pytest.raises(ValueError, match="atomically-published"):
            ensure_plain_zone(spark, form, "test_writer")
    with pytest.raises(Exception, match="Wrong FS|otherhost"):
        resolve_snapshot_dir(spark, f"file://otherhost{zone}")


def test_backfill_composes_with_atomic_zones(spark, tmp_path):
    """Round-13 second-wave find: backfill into an atomically-published
    destination would land beside the snapshots where pointer-resolving
    readers never look -- a successful-looking silent no-op; and an
    atomic SOURCE read at the root would union every version. The
    destination is refused loud; the source resolves to its snapshot."""
    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.sources.backfill import backfill

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(day="d1", x=1), Row(day="d1", x=2), Row(day="d2", x=3)]
    ).write.partitionBy("day").parquet(src)
    # atomic destination: refused loud
    dst_atomic = str(tmp_path / "dst_atomic.parquet")
    write_parquet(spark.createDataFrame([Row(day="d0", n=0)]), dst_atomic, atomic=True)
    with pytest.raises(ValueError, match="atomically-published"):
        backfill(
            spark,
            src,
            dst_atomic,
            "day",
            lambda df: df.groupBy("day").agg(F.sum("x").alias("n")),
        )
    # atomic SOURCE: resolves to the current snapshot (v=1 below), so the
    # derived zone reflects the published version, not a cross-version union
    src_atomic = str(tmp_path / "src_atomic.parquet")
    write_parquet(
        spark.createDataFrame([Row(day="d1", x=10)]),
        src_atomic,
        partition_by=("day",),
        atomic=True,
    )
    write_parquet(
        spark.createDataFrame([Row(day="d1", x=100), Row(day="d2", x=5)]),
        src_atomic,
        partition_by=("day",),
        atomic=True,
    )
    dst = str(tmp_path / "dst.parquet")
    done = backfill(
        spark,
        src_atomic,
        dst,
        "day",
        lambda df: df.groupBy("day").agg(F.sum("x").alias("n")),
    )
    assert sorted(done) == ["d1", "d2"]
    got = {
        r["day"]: r["n"] for r in spark.read.parquet(dst).collect()
    }
    assert got == {"d1": 100, "d2": 5}


def test_snapshot_retention_first_class(spark, tmp_path):
    """Retention is one call, ``vacuum_snapshots``: keep-N after each
    publish, plus the keep-age window (a version survives if within
    keep-N OR younger than keep_age_s -- deletion requires falling
    outside both)."""
    zone = str(tmp_path / "z" / "t.parquet")
    for i in range(4):
        df = spark.createDataFrame([Row(id=i)])
        write_parquet(df, zone, atomic=True)
        vacuum_snapshots(spark, zone, keep=2)
    # retention ran after each publish: only the newest 2 versions remain
    assert snapshot_versions(spark, zone) == [2, 3]
    assert current_snapshot_version(spark, zone) == 3
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(3,)]

    # keep-age keeps everything younger than the window even beyond
    # keep-N...
    assert vacuum_snapshots(spark, zone, keep=1, keep_age_s=3600) == []
    assert snapshot_versions(spark, zone) == [2, 3]
    # ...and a zero-age window defers entirely to keep-N
    assert vacuum_snapshots(spark, zone, keep=1, keep_age_s=0) == [2]
    assert snapshot_versions(spark, zone) == [3]

    # a time-travel read pinned to a vacuumed version fails loud
    # naming the missing path -- never a silently empty frame
    from iot_data_pipeline_spark.sources import matview

    with pytest.raises(Exception, match="v=2"):
        matview.read(spark, str(tmp_path / "z"), "t", version=2).collect()


def test_maintenance_writers_compose_with_retention(spark, tmp_path):
    """An in-place maintenance pass publishes each rewrite and then
    reclaims old versions with ``vacuum_snapshots`` -- the compaction
    loop no longer accumulates a full zone copy per run."""
    from iot_data_pipeline_spark.sources.maintenance import (
        compact_parquet,
        rewrite_zordered,
    )

    zone = str(tmp_path / "z" / "t.parquet")
    df = spark.createDataFrame([Row(id=i, k=i % 3) for i in range(50)])
    write_parquet(df, zone, atomic=True)
    compact_parquet(spark, zone, zone, atomic=True)
    vacuum_snapshots(spark, zone, keep=2)
    write_parquet(
        read_table(spark, str(tmp_path / "z"), "t").sortWithinPartitions("id"),
        zone,
        atomic=True,
    )
    vacuum_snapshots(spark, zone, keep=2)
    rewrite_zordered(
        read_table(spark, str(tmp_path / "z"), "t"),
        zone,
        ["id", "k"],
        n_files=2,
        atomic=True,
    )
    vacuum_snapshots(spark, zone, keep=2)
    assert snapshot_versions(spark, zone) == [2, 3]
    assert sorted(r["id"] for r in read_table(spark, str(tmp_path / "z"), "t").collect()) == list(range(50))


def test_read_during_vacuum_window_is_loud_never_wrong(spark, tmp_path):
    """Round-14 verdict task 2's probe: a reader PLANS against v=N
    (pointer resolution happens once at plan time), a refresh publishes
    v=N+1, and vacuum removes v=N while the reader's plan is still
    live. The frozen contract is loud-or-right, never wrong: the
    reader either serves its full snapshot or fails with the missing
    file named -- it must never return a silently partial/empty
    result. (Operationally: size vacuum_snapshots' keep_age_s above
    the longest query to avoid the window entirely.)"""
    zone = str(tmp_path / "z" / "t.parquet")
    old = spark.createDataFrame([Row(id=i) for i in range(2000)])
    write_parquet(old, zone, atomic=True)
    in_flight = read_table(spark, str(tmp_path / "z"), "t")
    assert in_flight.count() == 2000  # planned + executed against v=0
    write_parquet(
        spark.createDataFrame([Row(id=-1)]), zone, atomic=True
    )
    assert vacuum_snapshots(spark, zone, keep=1) == [0]
    # Spark caches leaf-file listings per plan: the same DataFrame may
    # legitimately still serve from cache (right), or re-scan and fail
    # loud (FILE_NOT_EXIST). Both honor the contract; a partial/empty
    # result violates it.
    try:
        rows = _rows(in_flight)
    except Exception as e:
        assert "FILE_NOT_EXIST" in str(e) or "does not exist" in str(e)
    else:
        assert rows == _rows(old), "read-during-vacuum served PARTIAL rows"
    # a FRESH read resolves the live pointer and is always right
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(-1,)]


def test_pointerless_snapshot_zone_fails_loud_never_unions(
    spark, tmp_path, sf_dir
):
    """Round-14 probe, measured as SILENT WRONGNESS before the fix: a
    zone carrying v=<N> snapshot dirs but no ``_current`` pointer (a
    publisher crashed before its first pointer write, an
    operator-deleted pointer, or the no-pointer window of the
    delete+rename fallback) read as PLAIN -- the root read unioned
    EVERY version with a spurious ``v`` column, presenting stale and
    current rows together as one table. Now: brief retry (the swap
    window is milliseconds), then loud with the restore recipe. An
    EMPTY pointer over snapshot dirs is the same hazard, loud
    immediately; an empty pointer over a genuinely plain zone stays
    plain (the documented legacy semantics)."""
    import shutil

    from iot_data_pipeline_spark.sources.readers import TABLES
    from tests.oracle_harness import duck_connection

    zone = str(tmp_path / "z" / "t.parquet")
    write_parquet(spark.createDataFrame([Row(id=1)]), zone, atomic=True)
    write_parquet(spark.createDataFrame([Row(id=2)]), zone, atomic=True)
    os.remove(os.path.join(zone, "_current"))
    with pytest.raises(IOError, match="no '_current' pointer"):
        resolve_snapshot_dir(spark, zone)
    with pytest.raises(IOError, match="no '_current' pointer"):
        read_table(spark, str(tmp_path / "z"), "t")

    # empty pointer over snapshot dirs: same union hazard, loud at once
    open(os.path.join(zone, "_current"), "w").close()
    with pytest.raises(IOError, match="EMPTY"):
        resolve_snapshot_dir(spark, zone)

    # the oracle views mirror both refusals (engine/oracle parity)
    d = str(tmp_path / "sfdir")
    os.makedirs(d)
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    ez = f"{d}/events.parquet"
    write_parquet(spark.createDataFrame([Row(id=1)]), ez, atomic=True)
    os.remove(os.path.join(ez, "_current"))
    with pytest.raises(IOError, match="no _current pointer"):
        duck_connection(d)
    open(os.path.join(ez, "_current"), "w").close()
    with pytest.raises(IOError, match="EMPTY"):
        duck_connection(d)


def test_resolve_rides_out_pointer_swap_window(spark, tmp_path):
    """The delete+rename fallback (stores without atomic rename) opens
    a millisecond no-pointer window; resolve_snapshot_dir's retry loop
    must ride it out and serve old-or-new, never fail and never union.
    Deterministic twin of the race: the pointer vanishes, a 'swap'
    completes ~80ms later, and a resolve STARTED inside the window
    succeeds."""
    import threading

    zone = str(tmp_path / "z" / "t.parquet")
    write_parquet(spark.createDataFrame([Row(id=1)]), zone, atomic=True)
    write_parquet(spark.createDataFrame([Row(id=2)]), zone, atomic=True)
    ptr = os.path.join(zone, "_current")
    crc = os.path.join(zone, "._current.crc")
    os.remove(ptr)
    if os.path.exists(crc):
        os.remove(crc)  # keep the Hadoop checksum sidecar consistent

    def finish_swap():
        time.sleep(0.08)
        with open(ptr, "w", encoding="utf-8") as fh:
            fh.write("1")

    t = threading.Thread(target=finish_swap)
    t.start()
    try:
        got = resolve_snapshot_dir(spark, zone)
    finally:
        t.join()
    assert got == f"{zone}/v=1"
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(2,)]


def test_stale_prev_publisher_cannot_overwrite_live_snapshot(
    spark, tmp_path
):
    """Round-14 second-wave find on the round's own claim machinery:
    publisher B reads ``prev`` = N, a competing publisher then runs to
    COMPLETION (publishes v=N+1, releases its claim), and B's claim of
    the now-free v=N+1 slot succeeds -- B would overwrite the LIVE
    snapshot under the pointer (torn reads mid-write, the competitor's
    refresh silently replaced). publish_snapshot now re-reads the
    pointer after claiming and fails LOUD before any data write when
    it moved; the retry lands in the next free slot. The interleaving
    is injected deterministically: the full competing publish runs
    inside B's claim step, between B's prev-read and B's claim."""
    from iot_data_pipeline_spark.sources import matview as mv

    zone = str(tmp_path / "z" / "t.parquet")
    write_parquet(spark.createDataFrame([Row(id=0)]), zone, atomic=True)

    real_claim = mv._claim_slot
    competitor = spark.createDataFrame([Row(id=100)])
    state = {"fired": False}

    def competing_publish_then_claim(spark_, zone_, version_):
        if not state["fired"]:
            state["fired"] = True
            # the competitor runs to completion in B's stale window
            assert mv.publish_snapshot(spark_, zone_, competitor) == version_
        real_claim(spark_, zone_, version_)

    mv._claim_slot = competing_publish_then_claim
    try:
        with pytest.raises(
            mv.ConcurrentPublishError, match="already published"
        ):
            mv.publish_snapshot(
                spark, zone, spark.createDataFrame([Row(id=999)])
            )
    finally:
        mv._claim_slot = real_claim
    # B wrote NOTHING: the competitor's snapshot is intact and current
    assert current_snapshot_version(spark, zone) == 1
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(100,)]
    # B's loud abort released its claim: the retry publishes v=2
    assert mv.publish_snapshot(
        spark, zone, spark.createDataFrame([Row(id=999)])
    ) == 2
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(999,)]


def test_claim_edges_hostile_names_v0_race_dangling_pointer(
    spark, tmp_path
):
    """Round-14 second-wave edge band on the claim/retention machinery:

    - hostile zone names (space, unicode, literal percent) publish,
      claim, and resolve cleanly through both the os-path and
      Hadoop-path branches;
    - the v=0 slot of a BRAND-NEW zone races like any other (a claim
      held on a zone that has never published still fails the second
      publisher loud);
    - a pointer naming a hand-deleted snapshot fails LOUD
      (PATH_NOT_FOUND naming the dir), never silently empty -- the
      operator deleted the current version, not the engine."""
    import shutil

    from iot_data_pipeline_spark.sources.matview import (
        ConcurrentPublishError,
        _claim_slot,
        publish_snapshot,
        release_claim,
    )

    for name in ("my zone.parquet", "züne.parquet", "pct%20z.parquet"):
        zone = str(tmp_path / name)
        assert publish_snapshot(
            spark, zone, spark.createDataFrame([Row(id=1)])
        ) == 0
        assert resolve_snapshot_dir(spark, zone).endswith("/v=0")

    new_zone = str(tmp_path / "new.parquet")
    _claim_slot(spark, new_zone, 0)
    with pytest.raises(ConcurrentPublishError, match="already claimed"):
        publish_snapshot(spark, new_zone, spark.createDataFrame([Row(id=1)]))
    assert release_claim(spark, new_zone) == [0]
    assert publish_snapshot(
        spark, new_zone, spark.createDataFrame([Row(id=1)])
    ) == 0

    gone = str(tmp_path / "gone.parquet")
    publish_snapshot(spark, gone, spark.createDataFrame([Row(id=1)]))
    publish_snapshot(spark, gone, spark.createDataFrame([Row(id=2)]))
    shutil.rmtree(f"{gone}/v=1")
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_table(spark, str(tmp_path), "gone").collect()


def test_maintenance_composes_with_atomic_zones(spark, tmp_path):
    """Round-13 third-wave find (measured): a plain maintenance rewrite
    into a pointer zone silently DESTROYED the snapshots and the
    pointer, demoting the zone to plain layout. The maintenance writers
    now write through ``write_parquet`` (whose plain path refuses
    pointer zones, see test_plain_layout_writers_refuse_pointer_zones),
    resolve atomic sources to their snapshot, and offer atomic=True --
    the safe shape for in-place compaction, where plain overwrite opens
    the destroy-then-rewrite crash window."""
    from iot_data_pipeline_spark.sources.maintenance import (
        compact_parquet,
        rewrite_zordered,
    )

    zone = str(tmp_path / "z" / "t.parquet")
    df = spark.range(0, 500, 1, 8).selectExpr("id", "id % 7 as k")
    write_parquet(df, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 0
    # in-place atomic compaction: source resolves to the snapshot, the
    # compacted data publishes as the next one, rows identical
    compact_parquet(spark, zone, zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 1
    back = read_table(spark, str(tmp_path / "z"), "t")
    assert back.count() == 500
    assert sorted(r["id"] for r in back.collect()) == list(range(500))
    # sorted/zordered rewrites publish snapshots too
    write_parquet(back.sortWithinPartitions("k"), zone, atomic=True)
    assert current_snapshot_version(spark, zone) == 2
    rewrite_zordered(back, zone, ["k", "id"], atomic=True)
    assert current_snapshot_version(spark, zone) == 3
    assert read_table(spark, str(tmp_path / "z"), "t").count() == 500


def _refuse_write_parquet(spark, zone, tmp_path):
    write_parquet(spark.createDataFrame([Row(id=2)]), zone)


def _refuse_compact_parquet(spark, zone, tmp_path):
    from iot_data_pipeline_spark.sources.maintenance import compact_parquet

    compact_parquet(spark, zone, zone)


def _refuse_rewrite_zordered(spark, zone, tmp_path):
    from iot_data_pipeline_spark.sources.maintenance import rewrite_zordered

    rewrite_zordered(spark.createDataFrame([Row(id=2)]), zone, ["id"])


def _refuse_backfill(spark, zone, tmp_path):
    from iot_data_pipeline_spark.sources.backfill import backfill

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame([Row(day="d1", id=2)]).write.partitionBy(
        "day"
    ).parquet(src)
    backfill(spark, src, zone, "day", lambda df: df)


def _refuse_start_sensor_ingest(spark, zone, tmp_path):
    from iot_data_pipeline_spark.pipeline import PipelineConfig
    from iot_data_pipeline_spark.streaming.ingest import start_sensor_ingest

    raw = tmp_path / "raw"
    raw.mkdir()
    start_sensor_ingest(
        spark,
        str(raw),
        zone,
        str(tmp_path / "ckpt"),
        config=PipelineConfig(fixed_clock="2026-01-01 00:00:00"),
    )


def _refuse_start_incremental_rollup(spark, zone, tmp_path):
    from iot_data_pipeline_spark.streaming.rollup import (
        start_incremental_rollup,
    )

    stream = spark.readStream.format("rate").load()
    start_incremental_rollup(
        stream, zone, str(tmp_path / "ckpt"), ["value"], ["value"]
    )


def _refuse_compact_rollup(spark, zone, tmp_path):
    from iot_data_pipeline_spark.streaming.rollup import compact_rollup

    compact_rollup(spark, zone, ["id"], ["id"])


@pytest.mark.parametrize(
    "write, op",
    [
        pytest.param(
            write, op, id=write.__name__.removeprefix("_refuse_")
        )
        for write, op in (
            (_refuse_write_parquet, "write_parquet"),
            # the maintenance rewrites write through write_parquet,
            # whose refusal names it
            (_refuse_compact_parquet, "write_parquet"),
            (_refuse_rewrite_zordered, "write_parquet"),
            (_refuse_backfill, "backfill"),
            (_refuse_start_sensor_ingest, "start_sensor_ingest"),
            (_refuse_start_incremental_rollup, "start_incremental_rollup"),
            (_refuse_compact_rollup, "compact_rollup"),
        )
    ],
)
def test_plain_layout_writers_refuse_pointer_zones(spark, tmp_path, write, op):
    """Every plain-layout zone writer refuses an atomically-published
    zone through ``matview.ensure_plain_zone``, naming the op and the
    remedy, before it writes anything: a plain overwrite would destroy
    the snapshots under the pointer (round-13 probe: a plain compaction
    silently deleted them), and a plain or partition-scoped write would
    land beside them where pointer-resolving readers never look."""
    zone = str(tmp_path / "z.parquet")
    write_parquet(spark.createDataFrame([Row(id=1)]), zone, atomic=True)
    pointer = open(os.path.join(zone, "_current"), encoding="utf-8").read()
    listing = sorted(os.listdir(zone))
    with pytest.raises(ValueError, match=op) as err:
        write(spark, zone, tmp_path)
    assert "atomically-published" in str(err.value)
    assert "atomic=True" in str(err.value)
    with open(os.path.join(zone, "_current"), encoding="utf-8") as fh:
        assert fh.read() == pointer
    assert sorted(os.listdir(zone)) == listing
    assert snapshot_versions(spark, zone) == [0]
    assert _rows(read_table(spark, str(tmp_path), "z")) == [(1,)]


def test_one_zone_writer_publishes_and_refuses():
    """Lint: ``sinks.write_parquet`` is the only writer that chooses
    between a plain overwrite and ``publish_snapshot`` (the named-view
    ``refresh`` in matview publishes directly), and
    ``matview.ensure_plain_zone`` is the only pointer-zone refusal --
    no other module probes ``resolve_snapshot_dir(...) is not None``."""
    import ast
    from pathlib import Path

    import iot_data_pipeline_spark

    def callee(node):
        if not isinstance(node, ast.Call):
            return None
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    root = Path(iot_data_pipeline_spark.__file__).parent
    publishers, refusers = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if callee(node) == "publish_snapshot":
                publishers.add(rel)
            if (
                isinstance(node, ast.Compare)
                and callee(node.left) == "resolve_snapshot_dir"
                and any(isinstance(o, ast.IsNot) for o in node.ops)
                and any(
                    isinstance(c, ast.Constant) and c.value is None
                    for c in node.comparators
                )
            ):
                refusers.add(rel)
    assert publishers == {"sources/matview.py", "sources/sinks.py"}, publishers
    assert refusers == {"sources/matview.py"}, refusers


def test_concurrent_vacuums_never_crash_and_report_actual_deletes(
    spark, tmp_path, monkeypatch
):
    """Two janitors racing the same zone (the scheduler accident the
    claim protocol closes for publishers): janitor B deletes a version
    between janitor A's listing and A's age probe. Before the fix the
    probe's getFileStatus raised mid-run; frozen now: an already-gone
    version counts as goal-achieved (skipped, NOT reported), and only
    an actual delete lands in the returned list.

    The interleaving is simulated deterministically: vacuum's internal
    listing is pinned to the stale pre-delete view, then the "other
    janitor" removes one eligible version before vacuum probes it."""
    import shutil

    from iot_data_pipeline_spark.sources import matview

    zone = str(tmp_path / "z" / "t.parquet")
    for i in range(4):
        write_parquet(spark.createDataFrame([Row(id=i)]), zone, atomic=True)
    stale = snapshot_versions(spark, zone)  # [0, 1, 2, 3]
    assert stale == [0, 1, 2, 3]
    # janitor B wins the race on v=0 after A listed
    shutil.rmtree(tmp_path / "z" / "t.parquet" / "v=0")
    monkeypatch.setattr(
        matview, "snapshot_versions", lambda _s, _z: list(stale)
    )
    # age-probe path (keep_age_s given): the vanished v=0 must be
    # skipped silently, v=1/v=2 actually deleted, v=3 kept
    assert matview.vacuum_snapshots(
        spark, zone, keep=1, keep_age_s=0
    ) == [1, 2]
    monkeypatch.undo()
    assert snapshot_versions(spark, zone) == [3]
    assert _rows(read_table(spark, str(tmp_path / "z"), "t")) == [(3,)]

    # delete-only path (no keep_age_s): fs.delete on a vanished dir
    # returns False -- never reported as removed, never raises
    for i in range(4, 7):
        write_parquet(spark.createDataFrame([Row(id=i)]), zone, atomic=True)
    stale2 = snapshot_versions(spark, zone)
    shutil.rmtree(tmp_path / "z" / "t.parquet" / f"v={stale2[0]}")
    monkeypatch.setattr(
        matview, "snapshot_versions", lambda _s, _z: list(stale2)
    )
    removed = matview.vacuum_snapshots(spark, zone, keep=1)
    assert stale2[0] not in removed
    assert removed == stale2[1:-1]
