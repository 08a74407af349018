"""Materialized-view snapshot lifecycle: atomic publish, time travel,
reader isolation, vacuum (sources/matview.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources import matview
from iot_data_pipeline_spark.sources.readers import read_table


def _rollup(spark, sf_dir, flag=None):
    li = read_table(spark, sf_dir, "lineitem")
    if flag is not None:
        li = li.filter(F.col("l_returnflag") == flag)
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def test_refresh_publishes_and_advances_versions(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    zone = f"{root}/qty"
    assert matview.current_snapshot_version(spark, zone) is None
    with pytest.raises(FileNotFoundError):
        matview.read(spark, root, "qty")

    v0 = matview.refresh(spark, root, "qty", _rollup(spark, sf_dir))
    assert v0 == 0 and matview.current_snapshot_version(spark, zone) == 0
    full = {r["l_returnflag"]: r["sum_qty"] for r in matview.read(spark, root, "qty").collect()}
    assert len(full) >= 2

    v1 = matview.refresh(spark, root, "qty", _rollup(spark, sf_dir, flag="A"))
    assert v1 == 1
    cur = matview.read(spark, root, "qty").collect()
    assert len(cur) == 1 and cur[0]["l_returnflag"] == "A"
    # time travel: version 0 still intact and identical
    old = {r["l_returnflag"]: r["sum_qty"] for r in matview.read(spark, root, "qty", version=0).collect()}
    assert old == full


def test_reader_isolated_from_concurrent_refresh(spark, sf_dir, tmp_path):
    # a reader that resolved the pointer BEFORE a refresh keeps reading
    # its immutable snapshot -- the new version lands in a different
    # directory and never mutates v=0.
    root = str(tmp_path)
    matview.refresh(spark, root, "qty", _rollup(spark, sf_dir))
    reader = matview.read(spark, root, "qty")  # plan pinned to v=0
    before = sorted(map(tuple, reader.collect()))
    matview.refresh(spark, root, "qty", _rollup(spark, sf_dir, flag="A"))
    after = sorted(map(tuple, reader.collect()))
    assert before == after


def test_vacuum_keeps_published_and_recent(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    for flag in (None, "A", "N", "R"):
        matview.refresh(spark, root, "qty", _rollup(spark, sf_dir, flag=flag))
    zone = f"{root}/qty"
    assert matview.snapshot_versions(spark, zone) == [0, 1, 2, 3]
    removed = matview.vacuum_snapshots(spark, zone, keep=2)
    assert removed == [0, 1]
    assert matview.snapshot_versions(spark, zone) == [2, 3]
    # published snapshot survives and still reads
    assert matview.read(spark, root, "qty").count() == 1


def test_pointer_swap_atomic_rename_path_available(spark, tmp_path):
    """The publish step's atomic FileContext.rename(OVERWRITE) must work
    in this environment -- refresh() silently falls back to
    delete+rename (a reader-visible no-pointer window) if the py4j
    incantation breaks, so pin the primitive itself: an existing
    destination is replaced in one call."""
    jvm = spark._jvm
    d = str(tmp_path)
    final = jvm.org.apache.hadoop.fs.Path(f"{d}/_current")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{d}/_current.tmp")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    for content in ("0", "7"):
        out = fs.create(tmp, True)
        out.write(bytearray(content, "utf-8"))
        out.close()
        ren_cls = getattr(jvm, "org.apache.hadoop.fs.Options$Rename")
        opts = spark.sparkContext._gateway.new_array(ren_cls, 1)
        opts[0] = ren_cls.OVERWRITE
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        )
        fc.rename(tmp, final, opts)  # replaces existing dst atomically
    stream = fs.open(final)
    try:
        got = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    assert got == "7"
