"""Per-process fixture staging cache (queries/staging.py)."""

from __future__ import annotations

from iot_data_pipeline_spark.queries import staging


def test_staged_fixture_builds_once_per_key():
    calls = []

    def build(d):
        calls.append(d)

    a1 = staging.staged_fixture("t_kind", "/sf/a", build)
    a2 = staging.staged_fixture("t_kind", "/sf/a", build)
    b1 = staging.staged_fixture("t_kind", "/sf/b", build)
    c1 = staging.staged_fixture("t_other", "/sf/a", build)
    assert a1 == a2
    assert len({a1, b1, c1}) == 3
    assert len(calls) == 3  # one build per distinct (kind, sf_dir)


def test_fresh_dir_never_collides():
    assert staging.fresh_dir("t_run") != staging.fresh_dir("t_run")


def test_batch_mtime_pinner_orders_batches(tmp_path):
    """FileStreamSource orders files by mtime; the pinner must give each
    batch's new data files an mtime strictly greater than every earlier
    batch's, even when the underlying writes land in the same
    filesystem-timestamp tick, and must skip metadata files."""
    import os

    d = str(tmp_path)
    stamp = staging.batch_mtime_pinner(d)

    def write(name: str) -> None:
        with open(os.path.join(d, name), "w") as f:
            f.write("x")

    write("part-00000-a.parquet")
    write("_SUCCESS")
    stamp()
    write("part-00000-b.parquet")
    stamp()
    write("part-00000-c.parquet")
    write("part-00001-c.parquet")  # multi-file batch
    stamp()

    mt = {n: os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d)}
    assert mt["part-00000-a.parquet"] < mt["part-00000-b.parquet"]
    assert mt["part-00000-b.parquet"] < mt["part-00000-c.parquet"]
    assert mt["part-00000-c.parquet"] == mt["part-00001-c.parquet"]
    # metadata files keep their natural (newest) mtime -> untouched means
    # LATER than the pinned (past-based) batch stamps
    assert mt["_SUCCESS"] > mt["part-00000-c.parquet"]
    # pinned mtimes sit in the past: a file appended later at natural
    # time cannot sort before any pinned batch
    assert mt["part-00000-c.parquet"] < os.path.getmtime(d)


def test_q177_staging_sentinel_host_tz_independent(spark, sf_dir):
    """Round-12 found-and-fixed (DST-zone sweep, 204/205 under
    TZ=America/New_York): the q177 watermark sentinel observed max(ts)
    as a TIMESTAMP, which PySpark fetches as a Python datetime in HOST
    wall time; rebuilding it as a TIMESTAMP'...' literal reinterpreted
    that wall time in the UTC session, so on a host BEHIND UTC the
    sentinel landed hours before the real max and the newest purchases'
    outer emissions were silently lost (the UTC+14 battery zone is
    AHEAD of UTC — directionally blind to this). The staging now
    observes epoch-micros; the sentinel must sit exactly +2h past the
    real max under ANY host zone."""
    import os
    import time

    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.queries.ingest_q import _stage_q177_events

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        staging._CACHE.pop(("q177_events", sf_dir), None)
        d = _stage_q177_events(spark, sf_dir)
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()
    df = spark.read.parquet(d)
    real_max = df.filter(F.col("user_id") >= 0).agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    sentinel = df.filter(F.col("user_id") < 0).agg(
        F.min(F.unix_micros("ts"))
    ).collect()[0][0]
    assert sentinel == real_max + 2 * 3600 * 1_000_000
    # rebuilt under the restored zone the fixture must be identical
    staging._CACHE.pop(("q177_events", sf_dir), None)
    d2 = _stage_q177_events(spark, sf_dir)
    s2 = spark.read.parquet(d2).filter(F.col("user_id") < 0).agg(
        F.min(F.unix_micros("ts"))
    ).collect()[0][0]
    assert s2 == sentinel
