"""Event-driven per-file micro-batch ingest (reference A15/A16 -> B37).

The reference wires S3 ``ObjectCreated`` notifications with a ``.jsonl``
suffix filter to a Lambda that launches one Fargate task per file
(reference lambda/s3_event_handler.py:21-70, terraform/main.tf:463-468).
Spark's file-source Structured Streaming subsumes that whole control plane:
the checkpointed file listing is the notification + dedup, micro-batches are
the per-arrival tasks, and ``Trigger.AvailableNow`` gives "process what has
arrived, then stop" (one driver invocation per burst -- the same operational
contract, minus two process boundaries).

Scale notes:
- ``maxFilesPerTrigger`` is set only when the caller passes
  ``max_files_per_trigger``, and no engine caller does: a backlog of 10k
  files becomes one micro-batch. A batch of more than 32 files also starts
  a Spark listing job (ROADMAP item 3(b)).
- ``pathGlobFilter='*.jsonl'`` reproduces the suffix filter at the source.
- The CHECKPOINT and the SINK are one consistency unit (round-12 probe,
  measured): with the native file sink, losing the checkpoint but
  reusing the sink dir is SILENT LOSS -- the fresh query restarts at
  batch 0, finds batch 0 already committed in the sink's
  ``_spark_metadata`` log, and skips its own output (pinned:
  tests/test_streaming_windows.py::
  test_checkpoint_loss_with_reused_file_sink_loses_batches). With this
  module's ``foreachBatch`` the fresh query re-ingests every raw file
  still present and replaces its partitions (see the overwrite note
  below), which costs a full reprocess. Either way: on checkpoint loss,
  start a fresh sink dir (or reprocess into a new zone and atomically
  swap, sources/matview.py).
- output is partitioned by source file basename, reproducing the
  ``processed/<basename>`` routing rule (lambda/s3_event_handler.py:65)
  while keeping one parquet dir per input file for downstream pruning.
  Each raw file belongs to exactly one micro-batch, so both channels are
  written with dynamic partition overwrite: a batch replayed after a
  crash between its writes and its checkpoint commit replaces its own
  ``source_file=`` partitions instead of appending its rows twice.
- both channels, the zone and its ``_dead_letter``, get a 0-row schema
  partition at stream start, so each is readable before its first row.
  A micro-batch runs no probe for corrupt rows: its cache pass counts
  them, and a batch with none skips the dead-letter write. A replayed
  batch has the same count, so each corrupt row still lands once.
- the dim contract: a ``dim_location`` that reads a data source (files,
  tables) is read again in every micro-batch, so a dim updated between
  batches enriches later records with the new values. A dim that reads
  no source (``createDataFrame``, ``range``) cannot change, so it is
  collected once at stream start into a JVM local relation: no batch
  rebuilds a ``createDataFrame`` list in PySpark worker processes, and
  there is no cache to release. Each batch still runs one broadcast
  job to ship the dim to its join, as one task: the local relation is
  held in one partition, not one per core.
- a micro-batch of a few small files runs one task per job: the body
  packs its input to one partition per ``openCostInBytes`` of bytes
  (``pipeline._process_sensor_frame``), while a backlog keeps its split.
- the session polls the raw zone every 100 ms while idle
  (``spark.sql.streaming.pollingDelay``, set in ``session.build_session``;
  Spark's default is 10 ms). Each poll lists every file the raw zone has
  ever received, so the idle CPU grows with the zone; the longer poll
  adds at most 0.1 s of queue wait to a file.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from iot_data_pipeline_spark.pipeline import (
    ROUTE_COL,
    PipelineConfig,
    _process_sensor_frame,
    transform_sensor,
)
from iot_data_pipeline_spark.sources.matview import _read_text
from iot_data_pipeline_spark.sources.readers import (
    CORRUPT_COL,
    SENSOR_SCHEMA,
    _pafs_for,
    split_cached,
)


def read_sensor_stream(
    spark: SparkSession,
    raw_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming JSONL scan over a raw directory with corrupt capture."""
    full = T.StructType(
        SENSOR_SCHEMA.fields + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    reader = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("pathGlobFilter", "*.jsonl")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # input_file_name() returns the file's URI, whose path segments are
    # percent-encoded (a raw file "data file.jsonl" surfaces as
    # "data%20file.jsonl"), so the basename is decoded back to the real
    # file name before it becomes the routing key (round-11 probe).
    # try_url_decode: a non-URI name can never reach here (Hadoop always
    # encodes, a literal '%' arrives as %25), but a malformed escape
    # must degrade to the raw segment, not fail the stream. url_decode
    # is FORM decoding (java.net.URLDecoder): it also turns '+' into a
    # space, but URI paths keep a literal '+' raw -- so '+' is
    # re-escaped to %2B first, making the composition percent-decoding
    # only (probe: "a+b ü.jsonl" must round-trip, not become "a b").
    # Reference divergence, beneficial: the reference passes the S3
    # event key UNDECODED into get_object
    # (lambda/s3_event_handler.py:38,63), so any key with a space or
    # non-ASCII character 404s (NoSuchKey) and the file is never
    # processed at all.
    segment = F.element_at(F.split(F.input_file_name(), "/"), -1)
    plus_safe = F.regexp_replace(segment, r"\+", "%2B")
    return reader.json(raw_dir).withColumn(
        ROUTE_COL, F.coalesce(F.try_url_decode(plus_safe), segment)
    )


def _batch_source_files(
    spark: SparkSession, checkpoint_dir: str, batch_id: int
) -> list[str]:
    """URI paths the checkpointed file-source log assigned to
    ``batch_id`` (``<ckpt>/sources/<i>/<batch_id>``: a ``v1`` header
    then one JSON entry per file). Every ``compactInterval``-th batch
    (default 10) is written as ``<batch_id>.compact`` and carries the
    ENTIRE history -- entries are filtered by their own ``batchId``
    field there (round-13 probe: the plain-name lookup returned [] for
    batch 9 of a 12-file burst, silently skipping the vanished-file
    guard on exactly the compaction batches). Empty when no log entry
    exists under either name."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/sources")
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    out: list[str] = []
    for src_status in fs.listStatus(root):
        src = src_status.getPath().toString()
        compacted = False
        text = _read_text(spark, f"{src}/{batch_id}")
        if text is None:
            text = _read_text(spark, f"{src}/{batch_id}.compact")
            compacted = True
            if text is None:
                continue
        for rec in _log_records(text):
            if not compacted or rec.get("batchId") == batch_id:
                out.append(rec["path"])  # compact files carry the whole history
    return out


def _log_records(text: str) -> list[dict]:
    """The file entries of one checkpointed source-log file's text: a
    ``v1`` header, then one JSON object per line carrying at least
    ``path``."""
    import json

    out = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("v"):
            continue
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and rec.get("path"):
            out.append(rec)
    return out


def _log_uri_to_path(jvm, uri: str):
    """Hadoop Path for a checkpoint-log URI string. The log records
    Hadoop's MIXED encoding (reserved ASCII percent-escaped, non-ASCII
    raw: ``data%20file%20ü+x.jsonl``), and ``Path(String)`` re-escapes
    the ``%`` so lookups miss the real file (round-13 probe: the
    replaced-file audit silently SKIPPED any mutated file whose name
    needed escaping — exists() false read as deleted-after-processing —
    and an empty hostile-named file would have false-positived the
    vanished guard). Decode the path component and rebuild through the
    multi-arg ``java.net.URI`` constructor, which re-encodes correctly
    for any name."""
    from urllib.parse import unquote, urlsplit

    parts = urlsplit(uri)
    ju = jvm.java.net.URI(
        parts.scheme or None, parts.netloc or None, unquote(parts.path), None, None
    )
    return jvm.org.apache.hadoop.fs.Path(ju)


def _decoded_basename(uri_path: str) -> str:
    """The decoded basename of a checkpoint-log URI path -- the exact
    twin of the ``source_file`` derivation in
    :func:`read_sensor_stream` (percent-decoding only: '+' stays
    literal, matching the %2B re-escape there)."""
    from urllib.parse import unquote

    return unquote(uri_path.rsplit("/", 1)[-1])


def _raise_if_files_vanished(
    spark: SparkSession, checkpoint_dir: str, batch_id: int, seen: set[str]
) -> None:
    """Vanished-file guard (round-13 probe, measured as SILENT loss): the
    file source tolerates a listed file being deleted before its batch
    reads it (ignoreMissingFiles is forced internally to support
    cleanSource archiving), so the batch commits EMPTY, the checkpoint
    marks the file processed, and its rows are gone forever with a clean
    exit. ``seen`` holds the routing keys of the rows the batch read; a
    file the checkpoint log lists for ``batch_id`` that contributed no
    row AND no longer exists fails the batch loudly. A legal empty file
    still exists; a file deleted after the read has rows in ``seen``, so
    a normal batch probes no file at all."""
    lost = []
    for uri in _batch_source_files(spark, checkpoint_dir, batch_id):
        if _decoded_basename(uri) not in seen:
            p = _log_uri_to_path(spark._jvm, uri)
            if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
                lost.append(uri)
    if lost:
        raise RuntimeError(
            f"source file(s) vanished mid-burst before batch {batch_id} could read "
            f"them -- their rows are NOT in the output and the checkpoint would mark "
            f"them processed: {lost}. The raw zone must stay immutable until a burst "
            "drains (delete/archive only between runs)."
        )


def _overwrite_partitions(path: str) -> Callable[[DataFrame], None]:
    """Sink writing a frame's ``source_file=`` partitions under ``path``
    with dynamic partition overwrite, not append: a batch replayed after
    a crash between its writes and its checkpoint commit replaces exactly
    its own partitions, so every row lands once (a raw file belongs to
    exactly one batch)."""

    def write(df: DataFrame) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(ROUTE_COL)
            .parquet(path)
        )

    return write


def detect_replaced_source_files(
    spark: SparkSession, checkpoint_dir: str
) -> list[str]:
    """Raw-zone files whose current modification time is NEWER than the
    checkpointed file-source log recorded when they were ingested --
    i.e. files REPLACED or APPENDED-TO in place after processing.

    Why this surface exists (round-13 probe, measured): Spark's file
    source dedups on PATH, so a replaced file (same name, new content)
    is never re-listed -- its new rows are SILENTLY lost. The
    reference's S3-notification model does NOT have this mode: an S3
    object overwrite emits a fresh ObjectCreated event and the file is
    reprocessed (lambda/s3_event_handler.py:21-43), so silent-ignore is
    a parity loss as well as a data loss. The raw-zone contract is
    therefore immutable, uniquely-named files; this audit makes a
    violation LOUD (``run_ingest_available_now`` runs it before and
    after every burst). Limitation: detection keys on modification
    time, so a copy tool that preserves the old mtime (``rsync -t``)
    slips past; size is not recorded in Spark's log.

    Cost: the recorded files are grouped by directory and each directory
    is listed once (:func:`_list_log_dir`); the log's millisecond
    ``timestamp`` is compared with the listing's mtime in Python, so no
    Py4J call is made per recorded file.
    """
    recorded: dict[str, int] = {}
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/sources")
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    for src_status in fs.listStatus(root):
        # A `.compact` entry carries the ENTIRE history up to its batch,
        # so the audit only needs the LATEST compact plus the plain
        # entries after it -- reading every log file would make this a
        # per-burst O(total-batches-ever) driver pass on a long-lived
        # checkpoint (round-13 scale audit; compactInterval default 10).
        names = []
        for entry in fs.listStatus(src_status.getPath()):
            name = entry.getPath().getName()
            if name.endswith(".crc") or name.endswith(".tmp"):
                continue
            names.append(name)
        compacts = [
            int(n[: -len(".compact")])
            for n in names
            if n.endswith(".compact") and n[: -len(".compact")].isdigit()
        ]
        latest_compact = max(compacts) if compacts else None
        keep = []
        for n in names:
            if n.endswith(".compact"):
                if int(n[: -len(".compact")]) == latest_compact:
                    keep.append(n)
            elif n.isdigit() and (
                latest_compact is None or int(n) > latest_compact
            ):
                keep.append(n)
        src = src_status.getPath().toString()
        for name in keep:
            # a log file gone since the listing carries nothing to audit
            for rec in _log_records(_read_text(spark, f"{src}/{name}") or ""):
                p = rec["path"]
                recorded[p] = max(int(rec.get("timestamp", 0)), recorded.get(p, 0))
    by_dir: dict[str, dict[str, tuple[str, int]]] = {}
    for uri, ts in recorded.items():
        parent = uri.rsplit("/", 1)[0]
        by_dir.setdefault(parent, {})[_decoded_basename(uri)] = (uri, ts)
    replaced = []
    for parent, files in by_dir.items():
        # A recorded file missing from its directory's listing was
        # deleted after processing: legitimate (cleanSource-style
        # tidying), not a replace.
        for info in _list_log_dir(parent):
            hit = files.get(info.base_name)
            if hit is not None and info.mtime_ns // 1_000_000 > hit[1]:
                replaced.append(hit[0])
    return sorted(replaced)


def _list_log_dir(uri: str) -> list:
    """The files directly under a directory named by a checkpoint-log
    URI, in one ``pyarrow.fs`` listing. The log's mixed encoding
    (reserved ASCII escaped, non-ASCII raw) is re-encoded in full first:
    pyarrow refuses raw non-ASCII in a URI and decodes escapes. A scheme
    pyarrow cannot open fails the audit rather than skip it."""
    from urllib.parse import quote, unquote, urlsplit, urlunsplit

    from pyarrow import fs as pafs

    parts = urlsplit(uri)  # the log records qualified URIs only
    fs, root = _pafs_for(urlunsplit(parts._replace(path=quote(unquote(parts.path)))))
    if fs is None:
        raise NotImplementedError(
            f"replaced-file audit cannot list {parts.scheme}:// paths "
            f"through pyarrow.fs ({uri!r})"
        )
    infos = fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
    return [e for e in infos if e.type == pafs.FileType.File]


#: Leaf operators that read no data source: their rows are generated or
#: held by the driver, so they cannot change while a stream runs.
_IN_MEMORY_LEAVES = frozenset(
    {"LocalRelation", "LogicalRDD", "Range", "OneRowRelation"}
)


def _reads_no_source(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s analyzed plan is in-memory data
    and it lists no input files."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return (
        all(
            leaves.apply(i).getClass().getSimpleName() in _IN_MEMORY_LEAVES
            for i in range(leaves.size())
        )
        and not df.inputFiles()
    )


def _snapshot_dim(dim: DataFrame | None) -> DataFrame | None:
    """Evaluate an in-memory dim once, at stream start, into a JVM local
    relation: its rows then live in the plan, so no micro-batch reruns
    the dim's Python workers and nothing is cached or left to release.
    The relation is held in one partition, so each batch's broadcast of
    it runs one task instead of one per core. A dim that reads a source
    (or no dim) is returned as it is."""
    if dim is None or not _reads_no_source(dim):
        return dim
    jdf, spark = dim._jdf, dim.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()),
        spark,
    ).coalesce(1)


def start_sensor_ingest(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig = PipelineConfig(),
    dim_location: DataFrame | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the streaming sensor pipeline; returns the StreamingQuery.

    Each micro-batch runs ``run_batch_pipeline``'s own body (same split,
    same transform): one pass that caches the batch and aggregates it
    (counts and the source files seen), the vanished-file guard, then two
    writes, parquet partitioned by source file and the corrupt rows to
    ``<out_dir>/_dead_letter`` keyed the same way (skipped when the
    batch has no corrupt row, since the channel is seeded at start).
    When ``dim_location`` is given, every micro-batch broadcast-joins the
    static dim (stream-static enrichment, reference README.md:13): the
    dim never shuffles the stream. A dim that reads a data source is read again in every
    batch, so each batch sees it as of its own execution; an in-memory
    dim (``createDataFrame``, ``range``) cannot change, so it is evaluated
    once, at start, into a local relation that holds its rows, and each
    batch broadcasts it in one task.

    A long-lived stream (``available_now=False``) lists the raw zone
    every 100 ms while idle (the session's ``pollingDelay``, see
    ``session.build_session``), not Spark's default 10 ms: each listing
    covers every file the zone has ever received, so idle CPU grows with
    the zone, and the longer poll adds at most 0.1 s of queue wait.
    """
    stream = read_sensor_stream(
        spark, raw_dir, max_files_per_trigger=max_files_per_trigger
    )
    dim_location = _snapshot_dim(dim_location)

    # Seed both channels' schemas before the first micro-batch: a
    # drained-empty stream (no raw files, or all-corrupt input) would
    # otherwise leave an unreadable zone -- partitioned writes of 0 rows
    # emit no files -- and every downstream read_parquet(out_dir) dies on
    # schema inference. Each seed is the exact channel output schema,
    # computed on a 0-row frame (no data touched).
    from iot_data_pipeline_spark.sources.matview import ensure_plain_zone
    from iot_data_pipeline_spark.sources.sinks import (
        seed_zone_schema,
        stamp_ingest_time,
    )

    ensure_plain_zone(spark, out_dir, "start_sensor_ingest")
    dead_letter = f"{out_dir}/_dead_letter"
    empty_good, empty_bad = split_cached(
        spark.createDataFrame([], stream.schema), keep=ROUTE_COL
    )
    seed_zone_schema(
        transform_sensor(empty_good, config, dim_location), out_dir, ROUTE_COL
    )
    seed_zone_schema(stamp_ingest_time(empty_bad), dead_letter, ROUTE_COL)
    write_good = _overwrite_partitions(out_dir)
    write_dead = _overwrite_partitions(dead_letter)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Re-check the zone layout EVERY batch (round-14 probe): the
        # start-time guard cannot see an atomic publish that lands on
        # the output zone MID-burst -- from that moment a plain append
        # goes to the zone root where pointer-resolving readers never
        # look, so every subsequent batch would be silently invisible.
        # One tiny pointer probe per batch buys a loud failure instead;
        # it runs before the read and any write, so the failed batch
        # never commits and retries stay clean.
        ensure_plain_zone(spark, out_dir, "start_sensor_ingest micro-batch")
        # The guard runs AFTER the body's cache pass has read every file
        # into the cache (round 15: a guard ahead of the read let a file
        # deleted in between lose its rows) and BEFORE any write (round
        # 14: rows written by a batch that then failed were re-appended
        # by every retry). A failed batch writes nothing.
        _process_sensor_frame(
            batch_df,
            config,
            dim_location,
            write_good,
            lambda bad: write_dead(stamp_ingest_time(bad)),
            lambda seen: _raise_if_files_vanished(spark, checkpoint_dir, batch_id, seen),
            bad_seeded=True,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_ingest_available_now(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig = PipelineConfig(),
    timeout_s: int = 300,
    dim_location: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Process-everything-then-stop convenience (the per-burst batch mode).

    Fails when :func:`detect_replaced_source_files` finds raw files
    mutated in place since a previous burst ingested them -- before
    processing anything, and again after the drain for mid-burst
    mutations: their new content can NEVER be re-ingested through this
    checkpoint, because the file source dedups on path.
    """

    def _audit(stage: str) -> None:
        replaced = detect_replaced_source_files(spark, checkpoint_dir)
        if replaced:
            raise RuntimeError(
                f"raw file(s) REPLACED or appended-to in place ({stage} "
                f"burst): {replaced}. The checkpointed file source dedups "
                "on path, so the new content will never be ingested -- "
                "write new data under new, unique file names (the "
                "reference's S3-event model reprocesses an overwritten "
                "object; a mutated local/HDFS raw zone silently cannot)."
            )

    _audit("before")
    q = start_sensor_ingest(
        spark,
        raw_dir,
        out_dir,
        checkpoint_dir,
        config,
        dim_location=dim_location,
        available_now=True,
        max_files_per_trigger=max_files_per_trigger,
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"ingest did not drain within {timeout_s}s")
    _audit("after")
