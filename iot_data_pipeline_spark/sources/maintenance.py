"""Data-lake maintenance operators: small-file compaction and Z-order
layout rewriting.

The reference's one-file-per-event design (reference
lambda/s3_event_handler.py:44-48) produces exactly the pathology a
long-lived lake dies of: millions of tiny objects, each a full
open/footer-parse/close at scan time. These operators are the batch
janitors a processed zone needs once files arrive continuously.
Snapshot retention for atomically-published zones is
``matview.vacuum_snapshots``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    atomic: bool = False,
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    File count is derived from the INPUT byte size (cheap file-status
    listing, no data read), then the data is rewritten through a
    ``repartition(n)`` -- a single round-robin shuffle that also heals
    skewed file sizes. Returns the output file count.

    128 MiB default matches the HDFS-era sweet spot that parquet
    readers still assume: big enough to amortize footer+open cost,
    small enough to split work evenly.

    Atomic-zone composition (round 13): an atomic SOURCE resolves to its
    current snapshot (a root read would union every version); the
    output goes through ``sinks.write_parquet``, so ``atomic=True``
    publishes the compacted data as the zone's next snapshot -- the safe
    shape for IN-PLACE maintenance (``out_path == path``), where the
    plain overwrite opens the measured destroy-then-rewrite crash
    window -- and a plain write into a pointer zone is refused there.
    """
    from iot_data_pipeline_spark.sources.matview import resolve_snapshot_dir
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    src = resolve_snapshot_dir(spark, path) or path
    # JVM-side file listing via the input_file_name trick would scan; use
    # the FileSystem API through the JVM gateway instead (status only).
    jvm = spark._jvm
    jsc = spark._jsc
    hadoop_conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(hadoop_conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    out = spark.read.parquet(src).repartition(n_files)
    write_parquet(out, out_path, atomic=atomic)
    return n_files


def zorder_value(cols: list[str], bits: int = 16) -> F.Column:
    """Interleaved-bit Z-value over rank-normalized columns.

    Each column is first percent_rank-normalized to a ``bits``-wide
    integer (rank, not raw value: Z-order degrades badly on skewed
    domains, and ranks are uniform by construction), then the bit
    planes interleave: z = ... c0[b] c1[b] c0[b-1] c1[b-1] ...

    Pure column arithmetic -- shifts and ORs inside codegen, no UDF.
    """
    n = len(cols)
    ranks = [
        (
            F.percent_rank().over(Window.orderBy(F.col(c)))
            * ((1 << bits) - 1)
        ).cast("long")
        for c in cols
    ]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranks):
            bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def rewrite_zordered(
    df: DataFrame,
    out_path: str,
    layout_cols: list[str],
    n_files: int = 8,
    bits: int = 16,
    atomic: bool = False,
) -> None:
    """Rewrite clustered on a multi-column Z-curve: range-partition and
    sort by the interleaved Z-value so EVERY layout column's per-file
    min/max stats become selective -- predicates on any single column
    skip most files/row-groups, where a lexicographic sort only serves
    its leading column.

    Cost note: percent_rank uses a global window (single-partition rank
    pass) -- fine for the maintenance job sizes this targets; at larger
    scale substitute an approximate rank (ntile over a sampled CDF),
    which changes nothing downstream since the Z-value only needs
    monotonicity, not exactness.

    The output goes through ``sinks.write_parquet``: ``atomic=True``
    publishes it as the zone's next snapshot, and a plain write into a
    pointer zone is refused there.
    """
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    z = zorder_value(layout_cols, bits)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    write_parquet(out, out_path, atomic=atomic)

