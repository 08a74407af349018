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
- ``maxFilesPerTrigger`` bounds micro-batch size so a 10k-file backlog does
  not become one giant batch (at 100 TB the raw zone arrives in bursts).
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
- the dim contract: a ``dim_location`` that reads a data source (files,
  tables) is read again in every micro-batch, so a dim updated between
  batches enriches later records with the new values. A dim that reads
  no source (``createDataFrame``, ``range``) cannot change, so it is
  persisted once per stream and released when the query terminates;
  otherwise every batch's broadcast would rebuild a ``createDataFrame``
  list in PySpark worker processes.
- the session polls the raw zone every 100 ms while idle
  (``spark.sql.streaming.pollingDelay``, set in ``session.build_session``;
  Spark's default is 10 ms). Each poll lists every file the raw zone has
  ever received, so the idle CPU grows with the zone; the longer poll
  adds at most 0.1 s of queue wait to a file.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from iot_data_pipeline_spark.pipeline import PipelineConfig, transform_sensor
from iot_data_pipeline_spark.sources.readers import (
    CORRUPT_COL,
    SENSOR_SCHEMA,
    split_corrupt,
)


def read_sensor_stream(
    spark: SparkSession,
    raw_dir: str,
    schema: T.StructType = SENSOR_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming JSONL scan over a raw directory with corrupt capture."""
    full = T.StructType(
        schema.fields + [T.StructField(CORRUPT_COL, T.StringType())]
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
        "_source_file", F.coalesce(F.try_url_decode(plus_safe), segment)
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
    import json

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/sources")
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    out: list[str] = []
    for src_status in fs.listStatus(root):
        compacted = False
        entry = jvm.org.apache.hadoop.fs.Path(
            src_status.getPath(), str(batch_id)
        )
        if not fs.exists(entry):
            entry = jvm.org.apache.hadoop.fs.Path(
                src_status.getPath(), f"{batch_id}.compact"
            )
            compacted = True
            if not fs.exists(entry):
                continue
        stream = fs.open(entry)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("v"):
                continue
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if not (isinstance(rec, dict) and rec.get("path")):
                continue
            if compacted and rec.get("batchId") != batch_id:
                continue  # compact files carry the whole history
            out.append(rec["path"])
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
    twin of the ``_source_file`` derivation in
    :func:`read_sensor_stream` (percent-decoding only: '+' stays
    literal, matching the %2B re-escape there)."""
    from urllib.parse import unquote

    return unquote(uri_path.rsplit("/", 1)[-1])


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
    """
    recorded: dict[str, int] = {}
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/sources")
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    import json

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
        for name in keep:
            entry_path = jvm.org.apache.hadoop.fs.Path(
                src_status.getPath(), name
            )
            stream = fs.open(entry_path)
            try:
                text = jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            for line in text.splitlines():
                line = line.strip()
                if not line or line.startswith("v"):
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                if isinstance(rec, dict) and rec.get("path"):
                    ts = int(rec.get("timestamp", 0))
                    p = rec["path"]
                    recorded[p] = max(ts, recorded.get(p, 0))
    if not recorded:
        return []
    replaced = []
    for uri, ts in recorded.items():
        p = _log_uri_to_path(jvm, uri)
        pfs = p.getFileSystem(conf)
        try:
            status = pfs.getFileStatus(p)
        except Exception:  # noqa: BLE001 -- deleted after processing:
            continue  # legitimate (cleanSource-style tidying), not a replace
        if status.getModificationTime() > ts:
            replaced.append(uri)
    return sorted(replaced)


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


def _pin_dim(dim: DataFrame | None) -> DataFrame | None:
    """Persist and evaluate an in-memory dim for the life of one stream;
    returns the frame to release on termination, or None when there is
    nothing to release (no dim, a dim that reads a source, or one the
    caller has already cached and so owns). ``persist`` rather than
    ``localCheckpoint``: a lost block is recomputed from lineage instead
    of failing every later batch. Evaluated here, at stream start, so no
    micro-batch pays an extra job to fill the cache."""
    if dim is None or not _reads_no_source(dim):
        return None
    level = dim.storageLevel
    if level.useMemory or level.useDisk:
        return None
    dim.persist()
    try:
        dim.count()
    except Exception:
        dim.unpersist()
        raise
    return dim


def _unpersist_on_termination(query: StreamingQuery, dim: DataFrame) -> None:
    """Unpersist ``dim`` once ``query`` terminates, however it ends
    (stopped, failed, or drained by ``availableNow``)."""

    def wait() -> None:
        try:
            query.awaitTermination()
        except Exception:  # noqa: BLE001 -- a failed query ends too
            pass
        try:
            dim.unpersist()
        except Exception:  # noqa: BLE001 -- the session may be stopped
            pass

    threading.Thread(
        target=wait, name=f"unpersist-dim-{query.runId}", daemon=True
    ).start()


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

    Each micro-batch applies the exact batch transform (same code path as
    ``run_batch_pipeline`` -- streaming/batch parity by construction) and
    writes parquet partitioned by source file; corrupt rows go to
    ``<out_dir>/_dead_letter`` keyed the same way. When ``dim_location``
    is given, every micro-batch broadcast-joins the static dim (stream-
    static enrichment, reference README.md:13): the dim never shuffles
    the stream. A dim that reads a data source is read again in every
    batch, so each batch sees it as of its own execution; an in-memory
    dim (``createDataFrame``, ``range``) cannot change, so it is evaluated
    once: persisted at start and released when the query terminates.

    A long-lived stream (``available_now=False``) lists the raw zone
    every 100 ms while idle (the session's ``pollingDelay``, see
    ``session.build_session``), not Spark's default 10 ms: each listing
    covers every file the zone has ever received, so idle CPU grows with
    the zone, and the longer poll adds at most 0.1 s of queue wait.
    """
    stream = read_sensor_stream(
        spark, raw_dir, max_files_per_trigger=max_files_per_trigger
    )

    # Seed the processed zone's schema before the first micro-batch: a
    # drained-empty stream (no raw files, or all-corrupt input) would
    # otherwise leave an unreadable zone -- partitioned writes of 0 rows
    # emit no files -- and every downstream read_parquet(out_dir) dies on
    # schema inference. The seed is the exact transform output schema
    # computed on a 0-row frame (no data touched).
    from iot_data_pipeline_spark.sources.matview import ensure_plain_zone
    from iot_data_pipeline_spark.sources.sinks import seed_zone_schema

    ensure_plain_zone(spark, out_dir, "start_sensor_ingest")
    empty_good = spark.createDataFrame(
        [],
        T.StructType(
            SENSOR_SCHEMA.fields
            + [T.StructField("source_file", T.StringType())]
        ),
    )
    seed_zone_schema(
        transform_sensor(empty_good, config, dim_location),
        out_dir,
        "source_file",
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Re-check the zone layout EVERY batch (round-14 probe): the
        # start-time guard cannot see an atomic publish that lands on
        # the output zone MID-burst -- from that moment a plain append
        # goes to the zone root where pointer-resolving readers never
        # look, so every subsequent batch would be silently invisible.
        # One tiny pointer probe per batch buys a loud failure instead;
        # it runs before any write, so the failed batch never commits
        # and retries stay clean.
        ensure_plain_zone(spark, out_dir, "start_sensor_ingest micro-batch")
        # Like sources.readers.split_corrupt, but keeping the per-file
        # routing column on both channels.
        source = F.col("_source_file")
        parent = batch_df.cache()
        # Materialize the cache NOW (round-15, advisor find): the
        # vanished-file guard below probes source-file existence, and
        # with a lazy cache those probes ran before any Spark job had
        # actually READ the files -- a file deleted after the probe but
        # before the write's read was silently tolerated
        # (ignoreMissingFiles is forced on) and its rows lost. Counting
        # the cached frame completes every source read first, so a file
        # deleted afterwards still has its rows in the cache; the scan
        # is not extra work, it is the same read the output write would
        # have paid (which now hits the cache instead).
        parent.count()
        data_cols = [c for c in parent.columns if c not in (CORRUPT_COL, "_source_file")]
        all_null = F.lit(True)
        for c in data_cols:
            all_null = all_null & F.col(c).isNull()
        good = parent.filter(F.col(CORRUPT_COL).isNull() & ~all_null).select(
            *data_cols, source.alias("source_file")
        )
        bad = parent.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw_line"), source.alias("source_file")
        )
        # Vanished-file guard (round-13 probe, measured as SILENT loss):
        # the file source tolerates a listed file being deleted before
        # its batch reads it (ignoreMissingFiles is forced internally to
        # support cleanSource archiving), so the batch commits EMPTY,
        # the checkpoint marks the file processed, and its rows are
        # gone forever with a clean exit. Cross-check the checkpointed
        # file list for THIS batch against the rows that survived: a
        # listed file contributing zero rows AND no longer existing
        # fails the query loudly (a legal empty file still exists; a
        # file deleted AFTER a successful read has surviving rows).
        # The guard runs BEFORE any output write (round-14, advisor
        # find): raising after the appends left rows in the processed
        # zone with the batch uncommitted, so every restart-retry of the
        # same terminal condition re-appended the surviving files' rows
        # -- duplicates compounding per retry. Guard-first means a
        # failed batch writes NOTHING and a retry is idempotent-clean.
        listed = _batch_source_files(spark, checkpoint_dir, batch_id)
        if listed:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            missing = []
            for uri in listed:
                p = _log_uri_to_path(jvm, uri)
                if not p.getFileSystem(conf).exists(p):
                    missing.append(uri)
            # normal bursts (every listed file still present) pay only
            # the existence probes -- no extra Spark job; the row-level
            # check runs only when a file actually vanished, to
            # distinguish deleted-after-read (rows survived) from
            # deleted-before-read (rows lost)
            lost = []
            if missing:
                seen = {
                    r[0]
                    for r in parent.select("_source_file")
                    .distinct()
                    .collect()
                }
                lost = [
                    uri
                    for uri in missing
                    if _decoded_basename(uri) not in seen
                ]
            if lost:
                parent.unpersist()
                raise RuntimeError(
                    f"source file(s) vanished mid-burst before batch "
                    f"{batch_id} could read them -- their rows are NOT "
                    f"in the output and the checkpoint would mark them "
                    f"processed: {lost}. The raw zone must stay "
                    "immutable until a burst drains (delete/archive "
                    "only between runs)."
                )
        # Dynamic partition overwrite, not append: a batch replayed after
        # a crash between these writes and the checkpoint commit replaces
        # exactly its own source_file= partitions, so every row lands
        # once (a raw file belongs to exactly one batch).
        processed = transform_sensor(good, config, dim_location)
        (
            processed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("source_file")
            .parquet(out_dir)
        )
        if bad.limit(1).count() > 0:
            (
                bad.withColumn("_ingest_ts", F.current_timestamp())
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("source_file")
                .parquet(f"{out_dir}/_dead_letter")
            )
        parent.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    pinned = _pin_dim(dim_location)
    try:
        query = writer.start()
    except Exception:
        if pinned is not None:
            pinned.unpersist()
        raise
    if pinned is not None:
        _unpersist_on_termination(query, pinned)
    return query


def run_ingest_available_now(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig = PipelineConfig(),
    timeout_s: int = 300,
    dim_location: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    on_replaced: str = "error",
) -> None:
    """Process-everything-then-stop convenience (the per-burst batch mode).

    ``on_replaced`` -- what to do when :func:`detect_replaced_source_files`
    finds raw files mutated in place since a previous burst ingested
    them (their new content can NEVER be re-ingested through this
    checkpoint -- the file source dedups on path): ``"error"`` (default;
    fail before processing anything, and again after the drain for
    mid-burst mutations), ``"warn"``, or ``"ignore"``.
    """
    if on_replaced not in ("error", "warn", "ignore"):
        raise ValueError(f"on_replaced must be error|warn|ignore, got {on_replaced!r}")

    def _audit(stage: str) -> None:
        if on_replaced == "ignore":
            return
        replaced = detect_replaced_source_files(spark, checkpoint_dir)
        if not replaced:
            return
        msg = (
            f"raw file(s) REPLACED or appended-to in place ({stage} "
            f"burst): {replaced}. The checkpointed file source dedups "
            "on path, so the new content will never be ingested -- "
            "write new data under new, unique file names (the "
            "reference's S3-event model reprocesses an overwritten "
            "object; a mutated local/HDFS raw zone silently cannot)."
        )
        if on_replaced == "error":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)

    _audit("before")
    # Pinned here rather than by start_sensor_ingest (which leaves a dim
    # the caller has cached alone), so it is released before we return.
    pinned = _pin_dim(dim_location)
    try:
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
    finally:
        if pinned is not None:
            pinned.unpersist()
    _audit("after")


# ---------------------------------------------------------------- control plane


class MalformedEventError(ValueError):
    """Raised for control-plane trigger payloads that fail validation --
    the engine twin of the reference Lambda's HTTP 400 response
    (lambda/s3_event_handler.py:28-33): reject bad input explicitly,
    never crash the worker and never silently process garbage."""


def validate_file_event(event: object) -> list[tuple[str, str]]:
    """Validate an S3-notification-shaped trigger payload and extract the
    ``(bucket, key)`` pairs it announces.

    Mirrors the reference handler's parse-then-400 contract
    (lambda/s3_event_handler.py:21-43): the payload must be a dict with a
    ``Records`` list, each record carrying ``s3.bucket.name`` and
    ``s3.object.key``. Raises :class:`MalformedEventError` with a precise
    reason otherwise. Spark's file source makes this path unnecessary for
    normal operation (the checkpointed listing IS the notification), but
    deployments fed by an external event bus still need the reject-bad-
    input surface, so it is exposed and tested explicitly.
    """
    if not isinstance(event, dict):
        raise MalformedEventError(f"event must be an object, got {type(event).__name__}")
    records = event.get("Records")
    if not isinstance(records, list) or not records:
        raise MalformedEventError("event.Records must be a non-empty list")
    out: list[tuple[str, str]] = []
    for i, rec in enumerate(records):
        if not isinstance(rec, dict):
            raise MalformedEventError(f"Records[{i}] must be an object")
        s3 = rec.get("s3")
        bucket = s3.get("bucket", {}).get("name") if isinstance(s3, dict) else None
        key = s3.get("object", {}).get("key") if isinstance(s3, dict) else None
        if not isinstance(bucket, str) or not bucket:
            raise MalformedEventError(f"Records[{i}].s3.bucket.name missing")
        if not isinstance(key, str) or not key:
            raise MalformedEventError(f"Records[{i}].s3.object.key missing")
        out.append((bucket, key))
    return out
