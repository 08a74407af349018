"""Incremental backfill: stale detection from file metadata, dynamic
partition overwrite touches only stale partitions (sources/backfill.py)."""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources import backfill as bf
from iot_data_pipeline_spark.sources.readers import read_table


def _derive(src):
    return src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
    )


def _part_files(dst, value):
    return sorted(glob.glob(os.path.join(dst, f"event_type={value}", "*.parquet")))


def test_backfill_recomputes_only_stale_partitions(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ev = read_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ev.write.partitionBy("event_type").parquet(src)

    # first run: everything is new
    done = bf.backfill(spark, src, dst, "event_type", _derive)
    types = sorted(r["event_type"] for r in spark.read.parquet(dst).collect())
    assert done == types and len(done) >= 2

    # steady state: nothing stale, nothing rewritten
    assert bf.backfill(spark, src, dst, "event_type", _derive) == []

    victim, survivor = done[0], done[1]
    survivor_files_before = _part_files(dst, survivor)

    # upstream correction lands in ONE source partition
    time.sleep(1.1)  # mtime granularity
    extra = spark.createDataFrame(
        [(victim, 100.0, 10_000_001)], "event_type string, value double, event_id long"
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        full = spark.read.parquet(src).unionByName(extra)
        full.filter(F.col("event_type") == victim).write.mode("overwrite").partitionBy(
            "event_type"
        ).parquet(src)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    done2 = bf.backfill(spark, src, dst, "event_type", _derive)
    assert done2 == [victim]

    # the survivor partition's files were not rewritten
    assert _part_files(dst, survivor) == survivor_files_before

    # and the derived zone now equals a from-scratch recompute
    want = {
        r["event_type"]: (r["n"], r["total"])
        for r in _derive(spark.read.parquet(src)).collect()
    }
    got = {
        r["event_type"]: (r["n"], r["total"])
        for r in spark.read.parquet(dst).collect()
    }
    assert got == want


def test_manifest_records_consumed_fingerprints_not_later_ones(
    spark, tmp_path, monkeypatch
):
    """TOCTOU regression (round-6 audit): the manifest must stamp the
    fingerprints captured BEFORE the derive read the data. The old code
    re-listed the source AFTER writing -- a source change landing mid-run
    got stamped as consumed without its rows in the derived output, and
    no future diff would ever recompute it. Simulated by appending to a
    source partition from inside the derive function."""
    import iot_data_pipeline_spark.sources.backfill as bf

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(10).selectExpr("id % 2 AS part", "id AS v").write.partitionBy(
        "part"
    ).parquet(src)

    def derive_and_mutate(df):
        out = df.selectExpr("part", "v * 10 AS tenfold")
        out.count()  # force the read before the mutation below
        # mid-run upstream correction: more rows land in partition 0
        spark.range(100, 103).selectExpr("0 AS part", "id AS v").write.mode(
            "append"
        ).parquet(src + "/part=0")
        return out

    done = bf.backfill(spark, src, dst, "part", derive_and_mutate)
    assert sorted(done) == ["0", "1"]
    # the mid-run change must still be stale: a second backfill picks
    # exactly it up, and a third finds nothing left to do
    def derive(df):
        return df.selectExpr("part", "v * 10 AS tenfold")

    assert bf.backfill(spark, src, dst, "part", derive) == ["0"]
    assert bf.backfill(spark, src, dst, "part", derive) == []


def test_backfill_leaves_session_overwrite_mode_alone(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite is requested on backfill's writer, not
    by flipping the session-wide conf around the write: while the conf
    is flipped, any other thread's partitioned ``mode("overwrite")``
    write on the session keeps partitions it should replace. Every key
    set through ``RuntimeConfig.set`` during the backfills is recorded;
    the overwrite-mode key must never be among them, and the refresh of
    one partition must still leave the other's files in place."""
    from pyspark.sql.conf import RuntimeConfig

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    spark.range(10).selectExpr("id % 2 AS part", "id AS v").write.partitionBy(
        "part"
    ).parquet(src)

    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)

    def derive(df):
        return df.selectExpr("part", "v * 10 AS tenfold")

    assert bf.backfill(spark, src, dst, "part", derive) == ["0", "1"]
    survivor_files = sorted(glob.glob(os.path.join(dst, "part=1", "*.parquet")))
    time.sleep(1.1)  # mtime granularity
    spark.range(100, 103).selectExpr("0 AS part", "id AS v").write.mode(
        "append"
    ).parquet(src + "/part=0")
    assert bf.backfill(spark, src, dst, "part", derive) == ["0"]

    assert "spark.sql.sources.partitionOverwriteMode" not in keys, keys
    assert sorted(glob.glob(os.path.join(dst, "part=1", "*.parquet"))) == survivor_files
    got = sorted(r["tenfold"] for r in spark.read.parquet(dst).collect())
    assert got == sorted([v * 10 for v in range(10)] + [1000, 1010, 1020])
