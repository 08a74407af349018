"""Sinks: JSONL (reference parity) and partitioned Parquet (processed zone).

The reference writes one JSON object per line and allows an empty output
(app/app.py:68-80); its README names Parquet as the intended processed-zone
format (README.md:217). At 100 TB the parquet sink should be partitioned on a
low-cardinality routing column (e.g. date) so downstream scans prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: ``timestampFormat`` of :func:`write_jsonl`: ISO-8601, full microseconds,
#: zone offset (``Z`` in the UTC session).
TIMESTAMP_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
#: ``timestampNTZFormat`` of :func:`write_jsonl`: the same pattern without
#: the zone letters -- a TIMESTAMP_NTZ value has no zone to print, and a
#: zone letter fails the whole write when an NTZ column is present.
TIMESTAMP_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_jsonl(df: DataFrame, path: str) -> None:
    """One JSON object per line, ISO-8601 UTC timestamps (reference A11).

    Overwrites ``path`` and writes one file per partition of ``df``; a
    caller that wants the reference's one-file-out contract for a small
    micro-batch passes ``df.coalesce(1)``.

    The formats keep FULL microsecond precision (round-10 probe:
    the previous seconds-only format silently truncated sub-second
    timestamps on write, and even Spark's default keeps only millis --
    lossy for the reference's own microsecond-emitting clock,
    app/app.py:48 ``isoformat()``). String-form divergence from the
    reference, accepted and documented: the reference omits the fraction
    when it is exactly zero and emits no timezone suffix
    (``utcnow().isoformat()``); this sink always prints ``.SSSSSS`` and
    ``Z`` -- same instants, lossless, and trivially machine-parseable.
    """
    # TIMESTAMP_NTZ columns render through the SEPARATE
    # timestampNTZFormat option (round-11 probe: setting only
    # timestampFormat left NTZ columns truncated to Spark's default millis).
    (
        df.write.mode("overwrite")
        .option("timestampFormat", TIMESTAMP_FORMAT)
        .option("timestampNTZFormat", TIMESTAMP_NTZ_FORMAT)
        .json(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    atomic: bool = False,
) -> None:
    """Parquet sink, optionally hive-partitioned (B4): a full-zone
    overwrite of ``path``.

    This is the only code that chooses between a plain overwrite and an
    atomic publish (the maintenance rewrites in sources/maintenance.py
    build their frame and write through here).

    ``atomic=True`` (round 13, closing the one 100 TB gap the round-12
    probes measured): publish the refresh through the versioned
    write-then-swap pattern (sources/matview.py) instead of Spark's
    destructive-first ``mode=overwrite``. The new snapshot is fully
    written under ``<path>/v=<N>`` before a tiny ``_current`` pointer
    file swaps to it, so a crashed, killed, or failed refresh ALWAYS
    leaves the previous zone state fully readable (the plain overwrite
    leaves it EMPTY -- measured, SCALE.md section 7e), and a concurrent
    reader sees old-or-new, never torn. The engine's read boundary
    (``read_table``; the DuckDB oracle views) resolves the pointer
    transparently; old snapshots stay readable until
    ``matview.vacuum_snapshots`` reclaims them. Partition-scoped
    refreshes use dynamic partition overwrite (sources/backfill.py)
    with its narrower destruction window.

    A plain write (``atomic=False``) into a zone that has a published
    pointer is refused by ``matview.ensure_plain_zone``: the overwrite
    would delete the snapshots out from under the pointer.

    CRASH posture of the plain overwrite (round-12 probe, measured):
    Spark's overwrite is DESTRUCTIVE-FIRST -- the old zone is deleted
    before the new write commits, so a crash mid-overwrite loses the
    OLD data entirely (probe: a SIGKILL mid-write left the zone empty;
    the 3M-row previous state was gone). Zones whose previous state
    must survive a failed refresh pass ``atomic=True``; partition-scoped
    refreshes use dynamic partition overwrite (sources/backfill.py),
    which narrows the destruction window to the partitions being
    replaced. One writer per zone is the contract; object-store
    deployments should use the magic committer (SCALE.md section 8).

    Partition-VALUE caveats (round-10 probe, frozen in
    tests/test_sources.py::test_partitioned_sink_adversarial_values):

    - Special characters in partition values (space, ``/``, ``:``, ``=``,
      ``%``, unicode, leading/trailing blanks) are percent-escaped in the
      directory name and round-trip EXACTLY through Spark's read.
    - EMPTY-STRING partition values do NOT round-trip: the Hive directory
      convention encodes both NULL and ``''`` as
      ``__HIVE_DEFAULT_PARTITION__``, so an empty string comes back as
      NULL. If ``''`` is a meaningful key, normalize it to a sentinel
      before partitioning.
    - Non-Spark readers may not unescape: DuckDB's ``hive_partitioning``
      returns the RAW escaped directory text (``a%2Fb``) and the literal
      ``__HIVE_DEFAULT_PARTITION__`` string for NULL -- an oracle-side
      divergence to remember if a DuckDB twin ever reads a partitioned
      zone keyed by values that need escaping.
    """
    from iot_data_pipeline_spark.sources.matview import (
        ensure_plain_zone,
        publish_snapshot,
    )

    if atomic:
        publish_snapshot(
            df.sparkSession, path, df, partition_by=tuple(partition_by)
        )
        return
    ensure_plain_zone(df.sparkSession, path, "write_parquet")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def seed_zone_schema(
    df: DataFrame,
    path: str,
    partition_col: str,
    seed_value: str | int = "__schema_seed__",
) -> None:
    """Make an empty partitioned zone schema-readable: write a 0-row part
    file into ``<path>/<partition_col>=<seed_value>/``.

    A partitioned parquet write of 0 rows emits NO files at all, so a
    derived zone that happens to receive no data (an empty source day, a
    stream that drained nothing) fails downstream schema inference with
    UNABLE_TO_INFER_SCHEMA -- the empty-input sweep found four pipelines
    wearing this failure. The seed partition carries the file schema and
    the partition column's directory encoding but zero rows, so every
    aggregate/filter over the zone is unaffected; ``seed_value`` must
    parse as the partition column's type (e.g. ``-2`` for a numeric
    ``batch_id``). Overwrite keeps re-seeding idempotent and touches only
    the seed directory, never data partitions.
    """
    cols = [c for c in df.columns if c != partition_col]
    (
        df.select(*cols)
        .limit(0)
        .write.mode("overwrite")
        .parquet(f"{path}/{partition_col}={seed_value}")
    )


def stamp_ingest_time(bad: DataFrame) -> DataFrame:
    """The dead-letter row schema: the corrupt rows plus ``_ingest_ts``,
    their capture time. Both dead-letter channels (the bulk run's
    ``write_dead_letter`` and the stream's per-batch partition
    overwrite) write through it."""
    return bad.withColumn("_ingest_ts", F.current_timestamp())


def write_dead_letter(bad: DataFrame, path: str) -> None:
    """Dead-letter sink for corrupt records (realizes reference README.md:215).

    Appends the raw line plus capture metadata; parquet so the DLQ is
    itself queryable (count by error day, replay a range, ...).
    """
    stamp_ingest_time(bad).write.mode("append").parquet(path)
