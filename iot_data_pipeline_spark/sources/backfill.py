"""Incremental backfill of a derived, partitioned zone.

The 100 TB problem this solves: a derived table (rollup, cleaned zone,
feature table) is partitioned the same way as its source, and one
upstream partition gets late data or a correction. Recomputing the whole
zone is a full-scan job; recomputing *only the changed partitions* is
minutes. Detecting "changed" must not scan data either -- at scale the
only free signal is file metadata.

Mechanics:

- ``partition_fingerprints`` lists ``<path>/<col>=<val>/`` directories
  through the Hadoop FileSystem API and fingerprints each as
  (file count, total bytes, max modification time) -- a metadata-only
  operation, no data read, works on file:// and hdfs:// and s3a://.
- a tiny JSON manifest of source fingerprints is stored next to the
  derived zone after every backfill.
- ``backfill`` diffs current source fingerprints against the manifest,
  recomputes ONLY stale/new partitions through the caller's derive
  function, and writes them with **dynamic partition overwrite** -- Spark
  replaces exactly the partition directories present in the written
  frame, leaving every other partition's files untouched.

The derive function sees only the stale partitions' source rows; its
output must retain the partition column.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources.matview import _jpath, _read_text

_MANIFEST = "_backfill_manifest.json"


def partition_fingerprints(
    spark: SparkSession, path: str, partition_col: str
) -> dict[str, list[int]]:
    """Map of partition value -> [n_files, total_bytes, max_mtime_ms],
    from file status only (no data read)."""
    fs, root, _ = _jpath(spark, path)
    out: dict[str, list[int]] = {}
    prefix = f"{partition_col}="
    for status in fs.listStatus(root):
        if not status.isDirectory():
            continue
        base = status.getPath().getName()
        if not base.startswith(prefix):
            continue
        n, total, mtime = 0, 0, 0
        for f in fs.listStatus(status.getPath()):
            if f.isFile() and not f.getPath().getName().startswith("_"):
                n += 1
                total += f.getLen()
                mtime = max(mtime, f.getModificationTime())
        out[base[len(prefix):]] = [n, total, mtime]
    return out


def _read_manifest(spark: SparkSession, dst_path: str) -> dict[str, list[int]]:
    text = _read_text(spark, f"{dst_path.rstrip('/')}/{_MANIFEST}")
    return {} if text is None else json.loads(text)


def _write_manifest(
    spark: SparkSession, dst_path: str, manifest: dict[str, list[int]]
) -> None:
    fs, p, _ = _jpath(spark, f"{dst_path.rstrip('/')}/{_MANIFEST}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(manifest, sort_keys=True), "utf-8"))
    finally:
        out.close()


def backfill(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_col: str,
    derive: Callable[[DataFrame], DataFrame],
    full: bool = False,
) -> list[str]:
    """Recompute stale partitions of the derived zone and overwrite only
    them. Returns the partition values recomputed (possibly empty).

    ``derive`` receives the source rows of the stale partitions only and
    must return a frame still carrying ``partition_col``. ``full=True``
    forces a complete rebuild (ignores the manifest).

    Atomic-zone composition (round 13): an atomically-published SOURCE
    resolves to its current snapshot (a direct root read would union
    every version); an atomically-published DESTINATION is REFUSED loud
    by ``matview.ensure_plain_zone`` -- dynamic partition overwrite
    writes beside the snapshot dirs where pointer-resolving readers
    never look, so the backfill would "succeed" while every read keeps
    serving the old snapshot (the worst failure shape: silent no-op). A zone is either partition-refreshed
    (this module) or snapshot-published (matview), never both.
    """
    from iot_data_pipeline_spark.sources.matview import (
        ensure_plain_zone,
        resolve_snapshot_dir,
    )

    ensure_plain_zone(spark, dst_path, "backfill")
    src_path = resolve_snapshot_dir(spark, src_path) or src_path
    # capture fingerprints ONCE, before reading any data: these are the
    # versions this run consumes, and they are what the manifest must
    # record -- re-listing after the derive would stamp a fingerprint for
    # source changes that landed mid-run WITHOUT their rows being in the
    # derived output, silently exempting them from every future diff
    captured = partition_fingerprints(spark, src_path, partition_col)
    if full:
        todo = sorted(captured)
    else:
        seen = _read_manifest(spark, dst_path)
        todo = sorted(v for v, fp in captured.items() if seen.get(v) != fp)
    if not todo:
        return []
    src = spark.read.parquet(src_path).filter(F.col(partition_col).isin(todo))
    derived = derive(src)
    if partition_col not in derived.columns:
        raise ValueError(f"derive() must keep the partition column {partition_col!r}")
    # dynamic partition overwrite requested on this writer, not the
    # session: a session-wide conf flip would leak into every other
    # thread's partitioned overwrite while this write runs
    (
        derived.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(dst_path)
    )
    # record the fingerprints we just consumed (the pre-read capture: a
    # partition that changed again mid-run keeps its OLD stamp here, so
    # the next backfill's diff recomputes it)
    manifest = _read_manifest(spark, dst_path)
    for v in todo:
        manifest[v] = captured[v]
    _write_manifest(spark, dst_path, manifest)
    return todo
