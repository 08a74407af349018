"""Q13/Q14: dirty-ingest routing and streaming-ingest parity as oracle
queries (SURVEY.md section 2.3).

The driver's DuckDB oracle can only see the ten pre-registered parquet
views, so both queries *derive their fixture files deterministically from
the events table* (same modular rules on both sides), run the real file
surface (PERMISSIVE JSONL read / checkpointed streaming ingest), and return
aggregates the oracle recomputes straight from ``events``.

Q13 line classes, keyed on ``event_id % 13`` (reference app/app.py:103-109,
FIXTURES.md section 1a):

- ``0`` -> non-JSON garbage line          -> corrupt channel
- ``1`` -> JSON non-object (bare string)  -> corrupt channel (app/app.py:43-45)
- ``2`` -> non-numeric temperature        -> corrupt channel (typed read;
  the raw line is preserved in the dead letter, SURVEY.md section 4.3)
- ``3`` -> object missing ``temperature`` -> kept, NULL temperature
  (app/app.py:108 semantics)
- ``4`` -> blank line                     -> silently dropped (app/app.py:35-37)
- else  -> valid object                   -> kept

Fixture files are staged once per process and reused across reruns
(``queries/staging.py``); checkpoints/sinks are always fresh.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iot_data_pipeline_spark.pipeline import PipelineConfig
from iot_data_pipeline_spark.queries.registry import declared
from iot_data_pipeline_spark.queries.staging import (
    batch_mtime_pinner,
    fresh_dir,
    staged_fixture,
)
from iot_data_pipeline_spark.session import stream_probe_session
from iot_data_pipeline_spark.sources.readers import (
    read_jsonl,
    read_table,
    split_corrupt,
)
from iot_data_pipeline_spark.streaming.ingest import run_ingest_available_now

Q14_CLOCK = "2026-01-01 00:00:00"

#: seconds a streaming probe may take to drain before it fails
_DRAIN_TIMEOUT_S = 300


def _drain_to_memory(stream: DataFrame, output_mode: str, checkpoint: str) -> DataFrame:
    """Run ``stream`` to completion (``availableNow``) into a memory sink
    and return the sink's rows, read back through the stream's own
    session -- a :func:`stream_probe_session` clone, so the sink's temp
    view (and the rows it holds) never lands on the caller's session.
    A stream that has not drained within ``_DRAIN_TIMEOUT_S`` is
    stopped and fails the probe."""
    q = (
        stream.writeStream.format("memory")
        .queryName("probe_sink")
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream probe ({checkpoint}) did not drain within {_DRAIN_TIMEOUT_S}s"
        )
    return stream.sparkSession.table("probe_sink")


def _dirty_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One text line per event, classed by ``event_id % 13`` (see module doc).

    Valid lines are built with ``to_json`` (null fields omitted, matching
    "missing key" semantics on re-read). Line construction is pure column
    expressions -- the write is the only materialization.
    """
    ev = read_table(spark, sf_dir, "events")
    cls = F.col("event_id") % 13
    device = F.concat(F.lit("device-"), (F.col("user_id") % 25).cast("string"))
    temp = F.col("value") / 10 - 5
    valid = F.to_json(
        F.struct(
            device.alias("device_id"),
            F.when(cls != 3, temp).alias("temperature"),
            F.col("value").alias("humidity"),
        )
    )
    bad_nonjson = F.concat(F.lit("this is a bad line "), F.col("event_id").cast("string"))
    bad_nonobject = F.lit('"just a string"')
    bad_nonnumeric = F.concat(
        F.lit('{"device_id": "'), device, F.lit('", "temperature": "abc"}')
    )
    line = (
        F.when(cls == 0, bad_nonjson)
        .when(cls == 1, bad_nonobject)
        .when(cls == 2, bad_nonnumeric)
        .when(cls == 4, F.lit(""))
        .otherwise(valid)
    )
    return ev.select(line.alias("value"))


@declared(
    "q13_corrupt_routing",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE event_id % 13 NOT IN (0, 1, 2, 4)) AS good_rows,
           COUNT(*) FILTER (WHERE event_id % 13 IN (0, 1, 2)) AS bad_rows,
           COUNT(*) FILTER (WHERE event_id % 13 = 3) AS null_temp_rows,
           ROUND(SUM(CASE WHEN event_id % 13 NOT IN (0, 1, 2, 3, 4)
                          THEN value / 10 - 5 END), 2) AS sum_temperature
    FROM events
    """,
)
def q13_corrupt_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record routing through the real PERMISSIVE file surface
    (reference A5/A8/A13/A20): dirty JSONL derived from events is written
    out, read back typed, split into good/bad channels, and summarized.
    The oracle recomputes every count from the modular line classes."""
    fixture_dir = staged_fixture(
        "q13_dirty",
        sf_dir,
        lambda d: _dirty_lines(spark, sf_dir).write.mode("overwrite").text(d),
    )
    good, bad = split_corrupt(read_jsonl(spark, fixture_dir))
    summary = good.agg(
        F.count(F.lit(1)).alias("good_rows"),
        F.count(F.when(F.col("temperature").isNull(), 1)).alias("null_temp_rows"),
        F.round(F.sum("temperature"), 2).alias("sum_temperature"),
    ).crossJoin(bad.agg(F.count(F.lit(1)).alias("bad_rows")))
    return summary.select("good_rows", "bad_rows", "null_temp_rows", "sum_temperature")


def _write_sensor_files(spark: SparkSession, sf_dir: str, raw_dir: str) -> None:
    """Materialize the Q14 fixture: every 20th event as a sensor record,
    routed to one of three ``.jsonl`` files by ``user_id % 3``. Driver-side
    on purpose -- this simulates the *external producer* (the reference's
    S3 uploader), not an engine operator."""
    ev = read_table(spark, sf_dir, "events")
    rows = (
        # The % 20 sample keeps the file small; the < 10000 cap makes the
        # fixture CONSTANT-SIZE across sf dirs (event_ids are dense from 0),
        # so this producer-simulation loop never grows with scale. The
        # oracle carries the same cap.
        ev.filter((F.col("event_id") % 20 == 0) & (F.col("event_id") < 10000))
        .select(
            (F.col("user_id") % 3).alias("file_no"),
            F.concat(F.lit("device-"), (F.col("user_id") % 25).cast("string")).alias(
                "device_id"
            ),
            F.when(F.col("event_id") % 17 != 0, F.col("value") / 10 - 5).alias(
                "temperature"
            ),
            F.col("value").alias("humidity"),
            F.col("event_id"),
        )
        .orderBy("event_id")
        .collect()
    )
    files = {}
    for r in rows:
        rec = {"device_id": r["device_id"], "humidity": r["humidity"]}
        if r["temperature"] is not None:
            rec["temperature"] = r["temperature"]
        files.setdefault(r["file_no"], []).append(json.dumps(rec))
    for k in range(3):
        with open(os.path.join(raw_dir, f"sensors-{k}.jsonl"), "w") as f:
            f.write("\n".join(files.get(k, [])) + "\n")


def _q34_oracle() -> str:
    return """
    WITH sensor AS (
      SELECT 'device-' || CAST(user_id % 25 AS VARCHAR) AS device_id,
             CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_id % 17 = 0 THEN NULL ELSE value / 10 - 5 END
               AS temperature
      FROM events WHERE event_id % 100 = 0 AND event_id < 10000
    ),
    ranked AS (
      SELECT device_id, ts, temperature,
             ROW_NUMBER() OVER (PARTITION BY device_id
                                ORDER BY ts DESC, temperature DESC NULLS LAST)
               AS rn,
             COUNT(*) OVER (PARTITION BY device_id) AS n_readings
      FROM sensor
    )
    SELECT device_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           ROUND(temperature, 2) AS last_temperature,
           n_readings
    FROM ranked WHERE rn = 1 ORDER BY device_id
    """


# ---------------------------------------------------------------------------
# Module-level staged-fixture builders for the streaming probes. Each is
# idempotent per process (staged_fixture caches by kind), so they serve
# two callers: the query functions below, and bench.py's explicit
# "stream staging" warm entry -- charging fixture construction to its
# own timed line makes the per-query streaming numbers measure
# steady-state micro-batch execution, order-independent of which query
# the rotation runs first (the b00 pair-graph precedent, round 9).


def _stage_q189_dups(spark: SparkSession, sf_dir: str) -> str:
    T0 = "TIMESTAMP'2024-01-01 00:00:00'"

    def _build(d: str) -> None:
        # JVM-side row construction: a driver-local createDataFrame write
        # pays ~3-4s of non-Arrow Python->JVM serde PER file at this size
        # (measured); range+selectExpr keeps all four writes under 1s.
        stamp = batch_mtime_pinner(d)

        def write(df: DataFrame) -> None:
            df.coalesce(1).write.mode("append").parquet(d)
            stamp()

        dup2 = spark.range(2).selectExpr("id AS dup")
        write(
            spark.range(10)
            .crossJoin(dup2)
            .selectExpr("id AS k", f"{T0} AS ts", "CAST(id AS DOUBLE) AS v")
        )
        write(
            spark.range(10, 12)
            .crossJoin(dup2)
            .selectExpr(
                "id AS k",
                f"{T0} + INTERVAL 30 MINUTES AS ts",
                "CAST(id AS DOUBLE) AS v",
            )
            .union(
                spark.range(1).selectExpr(
                    "5L AS k", f"{T0} + INTERVAL 5 MINUTES AS ts", "5.0D AS v"
                )
            )
        )
        write(
            spark.range(1).selectExpr(
                "12L AS k", f"{T0} + INTERVAL 31 MINUTES AS ts", "12.0D AS v"
            )
        )
        write(
            spark.range(3).selectExpr(
                "CASE id WHEN 0 THEN 0L WHEN 1 THEN 1L ELSE 10L END AS k",
                f"{T0} + INTERVAL 32 MINUTES AS ts",
                "CAST(id AS DOUBLE) AS v",
            )
        )

    return staged_fixture("q189_dups", sf_dir, _build)


def _stage_q191_late(spark: SparkSession, sf_dir: str) -> str:
    T0 = "TIMESTAMP'2024-01-01 00:00:00'"

    def _build(d: str) -> None:
        # JVM-side row construction (q189's pattern): driver-local
        # createDataFrame writes pay ~3-4s of non-Arrow serde per file
        stamp = batch_mtime_pinner(d)

        def write(df: DataFrame) -> None:
            df.coalesce(1).write.mode("append").parquet(d)
            stamp()

        write(
            spark.range(15).selectExpr(
                f"{T0} + id * INTERVAL 1 MINUTE AS ts",
                "CAST(id AS DOUBLE) AS v",
            )
        )
        write(
            spark.range(2).selectExpr(
                f"CASE id WHEN 0 THEN {T0} + INTERVAL 60 MINUTES "
                f"ELSE {T0} + INTERVAL 5 MINUTES END AS ts",
                "CASE id WHEN 0 THEN 100.0D ELSE 50.0D END AS v",
            )
        )
        write(
            spark.range(1).selectExpr(
                f"{T0} + INTERVAL 55 MINUTES AS ts", "55.0D AS v"
            )
        )
        write(
            spark.range(2).selectExpr(
                f"CASE id WHEN 0 THEN {T0} + INTERVAL 12 MINUTES "
                f"ELSE {T0} + INTERVAL 58 MINUTES END AS ts",
                "CASE id WHEN 0 THEN 999.0D ELSE 58.0D END AS v",
            )
        )
        write(
            spark.range(1).selectExpr(
                f"{T0} + INTERVAL 120 MINUTES AS ts", "0.0D AS v"
            )
        )

    return staged_fixture("q191_late", sf_dir, _build)


def _stage_q177_events(spark: SparkSession, sf_dir: str) -> str:
    def _build_staged(d: str) -> None:
        # cap the probe (constant-size across SFs like the media queries):
        # three stream-stream OUTER micro-batches buffer both sides in the
        # state store, and the semantics under test are watermark/eviction
        # behavior, not raw state volume (q53 covers the bigger inner probe)
        ev = (
            read_table(spark, sf_dir, "events")
            .filter(
                F.col("event_type").isin("purchase", "click")
                & (F.col("event_id") < 10000)
            )
            # normalize the staged schema: the sentinel batch below is
            # built from -1L/0.0D literals, and a source whose physical
            # id type is narrower (int32 parquet keys -- the round-8
            # narrowed-types sweep) would otherwise leave MIXED footers
            # in one staged dir, which mergeSchema=false reads as
            # whichever file it sampled first and then fails on the rest
            .select(
                F.col("event_id").cast("bigint").alias("event_id"),
                "ts",
                F.col("user_id").cast("bigint").alias("user_id"),
                "event_type",
                F.col("value").cast("double").alias("value"),
            )
        )
        from pyspark.sql import Observation

        # piggyback max(ts) on the fixture write itself (df.observe):
        # the sentinel needs it, and a separate agg would re-scan events
        obs = Observation("q177_maxts")
        # observe epoch-MICROS, not the timestamp itself: PySpark
        # converts a fetched TIMESTAMP to a Python datetime in the HOST
        # zone (naive local wall time), and rebuilding it as a
        # TIMESTAMP'...' literal reinterprets that wall time in the UTC
        # session -- on a host BEHIND UTC the sentinel landed hours
        # before the real max, the watermark never passed the newest
        # purchases, and their outer emissions were silently lost
        # (round-12 DST-zone sweep: 204/205 under TZ=America/New_York;
        # the long-standing UTC+14 sweep zone is AHEAD of UTC, which
        # only over-advances the watermark -- directionally blind).
        # A bigint rides the fetch unchanged on any host.
        ev.observe(
            obs, F.max(F.unix_micros(F.col("ts"))).alias("m")
        ).coalesce(1).write.mode("overwrite").parquet(d)
        stamp = batch_mtime_pinner(d)
        stamp()
        row = obs.get
        # ONE trailing sentinel file (+2h): its batch advances the
        # watermark past all real data, and the engine's trailing no-data
        # micro-batch (noDataMicroBatches, on by default) then runs the
        # eviction that emits the outer rows -- a second sentinel batch
        # only re-paid store open/commit (round-4 advice). JVM-side row
        # construction (q189's pattern): a driver-local createDataFrame
        # write pays ~3.4s of non-Arrow serde, which was most of this
        # fixture's staging cost (round-7 profiling).
        # max(ts) observed on the fixture write is None when the source
        # slice is empty; any fixed point works then -- the sentinel only
        # exists to advance the watermark, and with no real rows there is
        # nothing to evict (output stays empty either way)
        m_us = row["m"] if row["m"] is not None else 1_704_067_200_000_000
        spark.range(2).selectExpr(
            "-1L AS event_id",
            f"timestamp_micros({m_us}L) + INTERVAL 2 HOURS AS ts",
            "-1L AS user_id",
            "CASE WHEN id = 0 THEN 'purchase' ELSE 'click' END AS event_type",
            "0.0D AS value",
        ).coalesce(1).write.mode("append").parquet(d)
        stamp()  # sentinel batch must sort after the data batch

    return staged_fixture("q177_events", sf_dir, _build_staged)


def _stage_q167_raw(spark: SparkSession, sf_dir: str) -> str:
    def _build(d: str) -> None:
        src = (
            read_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 10000)
            .select(
                "event_id",
                "event_type",
                F.col("value").cast("decimal(18,6)").alias("v"),
            )
        )
        # two files = two micro-batches: partial-merge across batches is
        # the semantics under test and two partials prove the fold; a
        # third batch only re-paid stream startup cost (round-4 advice)
        stamp = batch_mtime_pinner(d)
        for part in range(2):
            src.filter(F.col("event_id") % 2 == part).coalesce(
                1
            ).write.mode("append").parquet(d)
            stamp()

    return staged_fixture("q167_raw", sf_dir, _build)


def _stage_q14_raw(spark: SparkSession, sf_dir: str) -> str:
    return staged_fixture(
        "q14_raw", sf_dir, lambda d: _write_sensor_files(spark, sf_dir, d)
    )


def _stage_q53_events(spark: SparkSession, sf_dir: str) -> str:
    # Stage only the two event classes the join touches: at sf0.1 this is
    # 40% of events; on a real deployment the upstream source would be
    # topic-split anyway.
    def _build_staged(d: str) -> None:
        (
            read_table(spark, sf_dir, "events")
            .filter(F.col("event_type").isin("purchase", "click"))
            .select("event_id", "ts", "user_id", "event_type", "value")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )

    return staged_fixture("q53_events", sf_dir, _build_staged)


def _stage_q34_raw(spark: SparkSession, sf_dir: str) -> str:
    def _build_raw(raw: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        rows = (
            # sf-invariant cap, mirrored in the oracle (see _write_sensor_files)
            ev.filter((F.col("event_id") % 100 == 0) & (F.col("event_id") < 10000))
            .select(
                (F.col("user_id") % 3).alias("file_no"),
                F.concat(
                    F.lit("device-"), (F.col("user_id") % 25).cast("string")
                ).alias("device_id"),
                F.when(F.col("event_id") % 17 != 0, F.col("value") / 10 - 5).alias(
                    "temperature"
                ),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("tstr"),
                F.col("event_id"),
            )
            .orderBy("event_id")
            .collect()
        )
        files: dict[int, list[str]] = {}
        for r in rows:
            rec = {"device_id": r["device_id"], "timestamp": r["tstr"]}
            if r["temperature"] is not None:
                rec["temperature"] = r["temperature"]
            files.setdefault(r["file_no"], []).append(json.dumps(rec))
        for k, lines in files.items():
            with open(os.path.join(raw, f"sensors-{k}.jsonl"), "w") as f:
                f.write("\n".join(lines) + "\n")

    return staged_fixture("q34_raw", sf_dir, _build_raw)


#: streaming-probe fixture stagers, in rough cost order -- bench.py's
#: "b08_stream_staging" entry runs them all once so per-query streaming
#: lines measure micro-batch execution, not fixture construction
STREAM_PRESTAGE = (
    _stage_q177_events,
    _stage_q14_raw,
    _stage_q189_dups,
    _stage_q191_late,
    _stage_q167_raw,
    _stage_q53_events,
    _stage_q34_raw,
)


@declared("q34_stateful_device_state", oracle=_q34_oracle())
def q34_stateful_device_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming op (B43): applyInPandasWithState device
    shadow over a multi-micro-batch file stream (maxFilesPerTrigger=1
    forces state to fold ACROSS batches). The oracle is the batch
    formulation -- latest reading per device via window rank -- which the
    streaming fold must converge to exactly.

    The timestamp second-truncation only affects the *displayed* string;
    ranking happens on the full-precision timestamp in both engines.
    """
    import pandas as pd  # noqa: F401  (worker dependency, fail fast if absent)

    from iot_data_pipeline_spark.operators.stateful import apply_last_state_stream

    raw = _stage_q34_raw(spark, sf_dir)

    from iot_data_pipeline_spark.sources.readers import SENSOR_SCHEMA

    # ~25 devices: 2 state stores, not one per session shuffle partition
    # (a real 1M-device deployment sizes this UP, same knob)
    stream = (
        stream_probe_session(spark)
        .readStream.schema(SENSOR_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(raw)
        .select("device_id", "timestamp", "temperature")
    )
    final = _drain_to_memory(
        apply_last_state_stream(stream), "update", fresh_dir("q34_ckpt")
    )
    w_latest = F.row_number().over(
        Window.partitionBy("device_id").orderBy(F.desc("n_readings"))
    )
    return (
        final.withColumn("rn", w_latest)
        .filter(F.col("rn") == 1)
        .select(
            "device_id",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.round("last_temperature", 2).alias("last_temperature"),
            "n_readings",
        )
        .orderBy("device_id")
    )


@declared(
    "q14_streaming_ingest",
    oracle="""
    SELECT 'sensors-' || CAST(user_id % 3 AS VARCHAR) || '.jsonl' AS source_file,
           COUNT(*) AS n_rows,
           ROUND(SUM(CASE WHEN event_id % 17 <> 0
                          THEN ROUND((value / 10 - 5) * 9 / 5 + 32, 2) END), 2)
               AS sum_temp_f
    FROM events WHERE event_id % 20 = 0 AND event_id < 10000
    GROUP BY 1 ORDER BY 1
    """,
)
def q14_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest parity (reference A15/A16 -> B37): N sensor files
    processed by the checkpointed ``Trigger.AvailableNow`` stream must equal
    the batch oracle over the same derived records, including the per-file
    ``processed/<basename>`` routing rule (lambda/s3_event_handler.py:65)."""
    raw = _stage_q14_raw(spark, sf_dir)
    work = fresh_dir("q14_run")  # output zone + checkpoint: never cached
    out = os.path.join(work, "out")
    run_ingest_available_now(
        spark,
        raw,
        out,
        os.path.join(work, "ckpt"),
        config=PipelineConfig(fixed_clock=Q14_CLOCK),
    )
    return (
        spark.read.parquet(out)
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("temp_fahrenheit"), 2).alias("sum_temp_f"),
        )
        .orderBy("source_file")
    )


@declared(
    "q182_stream_enrichment",
    oracle="""
    WITH src AS (
      SELECT 'device-' || CAST(user_id % 25 AS VARCHAR) AS device_id,
             CASE WHEN event_id % 17 <> 0
                  THEN ROUND((value / 10 - 5) * 9 / 5 + 32, 2) END AS temp_f
      FROM events WHERE event_id % 20 = 0 AND event_id < 10000
    ),
    dim_device_location AS (
      SELECT 'device-' || CAST(r AS VARCHAR) AS device_id,
             'loc-' || CAST(r % 7 AS VARCHAR) AS location_id
      FROM range(15) t(r)
    )
    SELECT COALESCE(d.location_id, 'unmapped') AS location_id,
           CAST(COUNT(*) AS BIGINT) AS n_readings,
           CAST(COUNT(s.temp_f) AS BIGINT) AS n_converted,
           ROUND(SUM(s.temp_f), 2) AS sum_temp_f
    FROM src s LEFT JOIN dim_device_location d ON s.device_id = d.device_id
    GROUP BY 1 ORDER BY 1
    """,
)
def q182_stream_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (reference README.md:13 run the
    way the deployed pipeline runs it -- streaming): the q14 sensor files
    flow through the checkpointed file-source ingest, and every
    micro-batch broadcast-left-joins the static device->location dim
    (q04's dim) inside ``foreachBatch`` before the partitioned parquet
    write. The oracle is the equivalent batch join over the same derived
    records -- streaming enrichment must equal batch enrichment exactly,
    including the NULL-location path for unmapped devices 15-24.

    Scale notes: the dim is broadcast per micro-batch (<=100 rows,
    FIXTURES.md section 2), so the fact stream never shuffles for the
    join -- the only enrichment plan that survives an unbounded stream.
    Round-16: the probe used to force ``maxFilesPerTrigger=1`` (three
    files -> three micro-batches); the batch COUNT is not semantic here
    -- the enrichment join, per-file routing and dead-letter paths are
    identical in one availableNow batch, and the output is
    batch-boundary-invariant by construction -- so the bench-facing run
    drains in a single batch and stops paying two extra state-store/
    commit-log rounds (~1 s each). The per-file-trigger contract itself
    stays covered by tests/test_streaming.py::
    test_max_files_per_trigger_batches.
    """
    from iot_data_pipeline_spark.queries.base import dim_device_location

    raw = _stage_q14_raw(spark, sf_dir)
    work = fresh_dir("q182_run")
    out = os.path.join(work, "out")
    run_ingest_available_now(
        spark,
        raw,
        out,
        os.path.join(work, "ckpt"),
        config=PipelineConfig(fixed_clock=Q14_CLOCK),
        dim_location=dim_device_location(spark),
    )
    return (
        spark.read.parquet(out)
        .groupBy(F.coalesce("location_id", F.lit("unmapped")).alias("location_id"))
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            F.count("temp_fahrenheit").alias("n_converted"),
            F.round(F.sum("temp_fahrenheit"), 2).alias("sum_temp_f"),
        )
        .orderBy("location_id")
    )


@declared(
    "q51_csv_roundtrip",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def q51_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source surface (SURVEY.md B2): write ``nation`` out as
    headered CSV, read it back through the declared-schema CSV reader
    (no inference pass), broadcast-join ``region``, aggregate. The
    oracle recomputes from the parquet views, so the round-trip must
    lose nothing -- types, quoting, header handling all under test.

    Scale plan: the reader takes an explicit schema because inference
    is a second full scan of the input; PERMISSIVE mode keeps the
    dirty-data contract of the JSONL path (reference app/app.py:62-65).

    CSV is a POSITIONAL format: Spark's declared-schema read binds
    columns by position (enforceSchema ignores the header row), so the
    writer pins the column order explicitly. Without the select, a
    source parquet whose footer lists columns in a different order --
    the round-9 column-order sweep -- wrote a CSV whose layout silently
    swapped n_nationkey and n_regionkey under the by-position read.
    """
    import pyspark.sql.types as T

    from iot_data_pipeline_spark.sources.readers import read_csv

    csv_dir = staged_fixture(
        "q51_nation_csv",
        sf_dir,
        lambda d: read_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(d),
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    nation_csv = read_csv(spark, csv_dir, schema)
    region = read_table(spark, sf_dir, "region")
    return (
        nation_csv.join(
            F.broadcast(region), nation_csv.n_regionkey == region.r_regionkey
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("r_name")
    )


@declared(
    "q53_stream_stream_join",
    oracle="""
    SELECT p.user_id % 50 AS user_bucket,
           COUNT(*) AS n_attributed,
           ROUND(SUM(c.value), 2) AS click_value
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    GROUP BY 1 ORDER BY 1
    """,
)
def q53_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution): purchases joined to
    same-user clicks in the preceding 10 minutes, both sides read as
    file-source streams with watermarks, run to completion with
    ``Trigger.AvailableNow`` and aggregated batch-side from the sink.
    The oracle is the equivalent batch interval join over ``events``.

    The staged parquet is written as ONE file so the whole stream is a
    single micro-batch: the join is then exact (no cross-batch watermark
    eviction), while the watermark wiring -- which is what bounds join
    state on a real unbounded stream -- is still the code path under
    test.
    """
    from iot_data_pipeline_spark.streaming.windows import interval_join_streams

    staged = _stage_q53_events(spark, sf_dir)
    schema = spark.read.parquet(staged).schema

    # ONE file-stream source feeding both join sides: deriving purchases
    # and clicks from the same source node lets each micro-batch list and
    # scan the staged parquet once instead of twice (two readStream calls
    # would plan two independent sources). The probe session's 2 join
    # state stores hold tens of thousands of buffered rows; a real
    # deployment sizes the store count to state volume.
    src = stream_probe_session(spark).readStream.schema(schema).parquet(staged)
    purchases = src.filter(F.col("event_type") == "purchase")
    clicks = src.filter(F.col("event_type") == "click")
    joined = interval_join_streams(
        purchases, clicks, key="user_id", lookback="10 minutes"
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("r.value").alias("click_value_raw"),
    )
    return (
        _drain_to_memory(joined, "append", fresh_dir("q53_ckpt"))
        .groupBy((F.col("user_id") % 50).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(F.sum("click_value_raw"), 2).alias("click_value"),
        )
        .orderBy("user_bucket")
    )


@declared(
    "q69_partitioned_sink",
    oracle="""
    SELECT source, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars
    FROM documents WHERE lang = 'en'
    GROUP BY source ORDER BY source
    """,
)
def q69_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned processed zone (B4, reference README.md:217's
    parquet data-lake path): documents written partitionBy(lang), read
    back with a lang predicate. The predicate prunes to ONE partition
    directory at planning time -- the other langs' files are never
    opened (asserted by the partition-pruning plan test). This layout
    choice is the single biggest scan saver for a 100 TB corpus queried
    by language.
    """
    from iot_data_pipeline_spark.sources.sinks import (
        seed_zone_schema,
        write_parquet,
    )

    def _build(d: str) -> None:
        docs = read_table(spark, sf_dir, "documents")
        write_parquet(docs, d, partition_by=["lang"])
        # 0-row schema seed: an empty documents table writes no partition
        # dirs at all, and the read below dies on schema inference
        seed_zone_schema(docs, d, "lang")

    zone = staged_fixture("q69_docs_by_lang", sf_dir, _build)
    return (
        spark.read.parquet(zone)
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("source")
    )


@declared(
    "q70_posexplode_outer",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0 THEN []
                  ELSE string_split(text, ' ') END AS tok_list
      FROM documents WHERE doc_id < 120
    ),
    exploded AS (
      SELECT doc_id, p AS pos, tok_list[p + 1] AS token
      FROM toks, unnest(range(len(tok_list))) AS u(p)
      UNION ALL
      SELECT doc_id, NULL, NULL FROM toks
      WHERE len(tok_list) = 0 OR tok_list IS NULL
    )
    SELECT doc_id, pos, token FROM exploded
    ORDER BY doc_id, pos NULLS FIRST
    """,
)
def q70_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-preserving flatten with empty-row retention (B51/UDTF
    surface): posexplode_outer keeps a (NULL, NULL) row for documents
    whose token list is empty -- plain explode silently drops them,
    which breaks joins back to the parent table (a corpus audit must
    see every doc_id). Every 50th doc's list is emptied to exercise
    the outer path; DuckDB mirrors it with UNION ALL of the empties --
    which must also catch NULL token lists (a NULL document), since
    posexplode_outer keeps those rows too (round-7 NULL fixture).
    120 docs bound the exploded output (~10k rows) so the oracle compare
    cost stays flat across scale factors.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    tok_list = F.when(
        F.col("doc_id") % 50 == 0, F.array().cast("array<string>")
    ).otherwise(F.split("text", " "))
    return (
        docs.select("doc_id", tok_list.alias("tok_list"))
        .select(
            "doc_id", F.posexplode_outer("tok_list").alias("pos", "token")
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
        .orderBy("doc_id", F.col("pos").asc_nulls_first())
    )


@declared(
    "q74_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q74_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink surface (columnar alternative to parquet; same
    pushdown/pruning machinery in Spark). Orders round-trip through ORC
    and re-aggregate; the oracle reads the original parquet, so the ORC
    writer/reader must preserve every value and type exactly.
    """
    zone = staged_fixture(
        "q74_orders_orc",
        sf_dir,
        lambda d: read_table(spark, sf_dir, "orders").write.mode("overwrite").orc(d),
    )
    return (
        spark.read.orc(zone)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@declared(
    "q167_incremental_rollup",
    oracle="""
    WITH src AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
      FROM events WHERE event_id < 10000
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR) AS total,
           CAST(CAST(MIN(v) AS DECIMAL(18,6)) AS VARCHAR) AS v_min,
           CAST(CAST(MAX(v) AS DECIMAL(18,6)) AS VARCHAR) AS v_max,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 4) AS v_avg
    FROM src GROUP BY event_type ORDER BY event_type
    """,
)
def q167_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-rollup subsystem (streaming/rollup.py) under the
    oracle gate end-to-end: a 3-file parquet fixture streams through
    ``start_incremental_rollup`` (file source, maxFilesPerTrigger=1, so
    each file is its own micro-batch writing its own ``batch_id=N``
    partial partition), history is then COMPACTED into one partition,
    and ``read_rollup`` folds partials into totals -- which must equal a
    one-shot aggregate over the same rows. Values are DECIMAL(18,6) so
    the partial-fold addition order cannot drift from the oracle's
    single-pass sum (the q112/q126 exactness rule); avg derives from the
    exact sum at the end.

    This is the always-fresh-dashboard shape at 100 TB: each micro-batch
    writes O(batch) partials (never read-modify-write), replays are
    idempotent by dynamic partition overwrite, compaction bounds read
    fan-in -- and the hash-match proves fold(partials) == aggregate(all),
    i.e. the mergeability contract itself.
    """
    import pyspark.sql.types as T

    from iot_data_pipeline_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        start_incremental_rollup,
    )

    raw = _stage_q167_raw(spark, sf_dir)
    work = fresh_dir("q167_run")
    rollup_path = os.path.join(work, "rollup")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("v", T.DecimalType(18, 6)),
        ]
    )
    # ~8 event_type groups: the probe session's 2 shuffle partitions,
    # not one near-empty task and file per session partition in each
    # micro-batch's partial write
    stream = (
        stream_probe_session(spark)
        .readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(raw)
    )
    start_incremental_rollup(
        stream,
        rollup_path,
        os.path.join(work, "ckpt"),
        keys=["event_type"],
        values=["v"],
    ).awaitTermination()
    compact_rollup(spark, rollup_path, keys=["event_type"], values=["v"])
    folded = read_rollup(spark, rollup_path, keys=["event_type"], values=["v"])
    # Final projection: decimals stay exact internally, but render to
    # STRING for output -- the driver's value-hasher canonicalizes raw
    # Decimal cells differently per engine fetch path (round-5 verdict;
    # q72's engine-neutral pattern). Registry rule: no raw DecimalType
    # in top-level output columns.
    return folded.select(
        "event_type",
        F.col("v_count").cast("bigint").alias("n"),
        F.col("v_sum").cast("decimal(28,6)").cast("string").alias("total"),
        F.col("v_min").cast("decimal(18,6)").cast("string").alias("v_min"),
        F.col("v_max").cast("decimal(18,6)").cast("string").alias("v_max"),
        F.round(
            F.col("v_sum").cast("double") / F.col("v_count").cast("double"), 4
        ).alias("v_avg"),
    ).orderBy("event_type")


@declared(
    "q168_backfill_derived_zone",
    oracle="""
    WITH final_src AS (
      SELECT event_id, event_id % 5 AS part,
             CASE WHEN event_id % 5 = 2 THEN value + 100 ELSE value END AS value
      FROM events WHERE event_id < 10000
    )
    SELECT part,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(ROUND(value * 1.8 + 32, 2)), 2) AS total_f
    FROM final_src GROUP BY part ORDER BY part
    """,
)
def q168_backfill_derived_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-backfill subsystem (sources/backfill.py) under the
    oracle gate: a partitioned source zone is derived once in full, then
    ONE source partition is corrected upstream (part 2's values +100);
    the second ``backfill`` must detect exactly that partition from the
    fingerprint manifest and recompute only it -- untouched partitions keep their original derived files. The final
    derived zone is aggregated and hash-matched against the one-shot
    derivation of the FINAL source state, so both a missed recompute
    (stale part 2 data) and an over-eager one (recompute-all would still
    match values -- the partition-list assert below pins the 'only'
    claim) fail the gate.

    Scale story: change detection is metadata-only (per-partition
    fingerprints from file listing), recompute IO is proportional to the
    corrected partitions, and untouched partitions' files are never
    rewritten -- the upstream-correction repair path every derived lake
    zone needs (SURVEY section 3.4 lifecycle).
    """
    src_dir = fresh_dir("q168_src")
    dst_dir = fresh_dir("q168_dst")
    base = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 10000)
        .select("event_id", (F.col("event_id") % 5).alias("part"), "value")
    )
    base.write.mode("overwrite").partitionBy("part").parquet(src_dir)

    def derive(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id", "part", F.round(F.col("value") * 1.8 + 32, 2).alias("f")
        )

    from iot_data_pipeline_spark.sources.backfill import backfill

    first = backfill(spark, src_dir, dst_dir, "part", derive)
    # upstream correction lands in exactly one source partition
    (
        base.filter(F.col("part") == 2)
        .withColumn("value", F.col("value") + 100)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(src_dir)
    )
    second = backfill(spark, src_dir, dst_dir, "part", derive)
    if not first:
        # empty source zone: a partitioned write of 0 rows creates no
        # partitions, so there is nothing to derive, correct, or detect --
        # return the (empty) output shape instead of reading a zone that
        # was never written
        return spark.createDataFrame(
            [], "part bigint, n bigint, total_f double"
        )
    assert sorted(first) == ["0", "1", "2", "3", "4"], first
    assert second == ["2"], f"stale detection recomputed {second}"
    derived = spark.read.parquet(dst_dir)
    return (
        derived.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("f"), 2).alias("total_f"),
        )
        .select(F.col("part").cast("bigint").alias("part"), "n", "total_f")
        .orderBy("part")
    )


@declared(
    "q169_zorder_rewrite",
    oracle="""
    SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE event_id < 10000 AND user_id % 100 < 3 AND event_id % 50 < 2
    ORDER BY event_id
    """,
)
def q169_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order layout rewrite (sources/maintenance.rewrite_zordered)
    under the oracle gate: events are rewritten clustered on the
    interleaved (user_id, event_id) Z-curve, then read back through a
    two-column predicate and hash-matched against the same predicate
    over the original table -- layout maintenance must be CONTENT-
    PRESERVING under any re-clustering (the min/max-span shrinkage that
    makes the rewrite worthwhile is pinned separately by
    tests/test_matview.py-style layout tests; correctness of the data
    itself is what belongs in the driver gate).

    Scale notes: the rewrite is range-partition + sort on the Z-value
    (no global single-partition sort); read-back filters hit parquet
    row-group min/max on BOTH columns because the curve interleaves
    their bits -- the reason a lexicographic sort is not enough.
    """
    from iot_data_pipeline_spark.sources.maintenance import rewrite_zordered

    out = fresh_dir("q169_z")
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 10000)
        .select("event_id", "user_id", "value")
    )
    rewrite_zordered(ev, out, ["user_id", "event_id"], n_files=8)
    back = spark.read.parquet(out)
    return (
        back.filter((F.col("user_id") % 100 < 3) & (F.col("event_id") % 50 < 2))
        .select("event_id", "user_id", F.col("value").cast("double").alias("value"))
        .orderBy("event_id")
    )


@declared(
    "q170_custom_datasource",
    oracle="""
    WITH idx AS (
      SELECT i FROM range(2000) t(i)
    ),
    readings AS (
      SELECT 'device-' || CAST(i % 25 AS VARCHAR) AS device_id,
             ROUND((CAST(('0x' || substr(md5('sensor:' || i), 1, 12)) AS BIGINT)
                    % 5000) / 100.0 - 10.0, 2) AS temperature,
             ROUND((CAST(('0x' || substr(md5('sensor:' || i), 1, 12)) AS BIGINT)
                    // 5000) % 10000 / 100.0, 2) AS humidity
      FROM idx
    )
    SELECT device_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(temperature), 2) AS sum_temp,
           ROUND(SUM(humidity), 2) AS sum_hum
    FROM readings GROUP BY device_id ORDER BY device_id
    """,
)
def q170_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource connector (sources/custom.py,
    SURVEY B-custom) under the oracle gate: 2000 synthetic sensor rows
    generated by the registered ``sensor_synthetic`` format across 8
    planned input partitions, aggregated per device and hash-matched
    against the generator's closed form restated in SQL (the reading is
    a pure function of the row index through the same md5 hash both
    engines compute). A connector that drops rows at partition
    boundaries, double-reads an overlap, or drifts from its contract
    fails the gate -- partition-count invariance is additionally
    property-tested in tests/test_custom_source.py.
    """
    from iot_data_pipeline_spark.sources.custom import register_sensor_source

    register_sensor_source(spark)
    df = (
        spark.read.format("sensor_synthetic")
        .option("rows", "2000")
        .option("partitions", "8")
        .option("devices", "25")
        .load()
    )
    return (
        df.groupBy("device_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("temperature"), 2).alias("sum_temp"),
            F.round(F.sum("humidity"), 2).alias("sum_hum"),
        )
        .orderBy("device_id")
    )


@declared(
    "q171_compaction",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id < 10000
    GROUP BY event_type ORDER BY event_type
    """,
)
def q171_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sources/maintenance.compact_parquet) under
    the oracle gate: the fixture is deliberately written as ~40 tiny
    files (the reference's one-object-per-event pathology,
    `lambda/s3_event_handler.py:44-48`, at lake scale), compacted to a
    byte-size-derived handful, and the compacted zone's aggregate must
    hash-match the original rows -- compaction is pure layout, zero
    content drift. The file-count assert pins that compaction actually
    compacted (a no-op rewrite would pass the content check).

    Scale notes: target file count derives from a FileSystem status
    listing (no data read), and the rewrite is one round-robin shuffle
    that also heals size skew -- the janitor pass every continuously-fed
    processed zone schedules.
    """
    from iot_data_pipeline_spark.sources.maintenance import compact_parquet

    def _build(d: str) -> None:
        ev = (
            read_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 10000)
            .select("event_id", "event_type")
        )
        ev.repartition(40).write.mode("overwrite").parquet(d)

    src = staged_fixture("q171_tiny_files", sf_dir, _build)
    out = fresh_dir("q171_compacted")
    n_files = compact_parquet(spark, src, out, target_file_bytes=1 << 20)
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files < n_src or n_src <= 1, (
        f"compaction did not reduce files: {n_files} >= {n_src}"
    )  # a 0/1-file zone is already compact; reduction only below that
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


@declared(
    "q174_matview_time_travel",
    oracle="""
    WITH v0 AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_id < 5000 GROUP BY event_type
    ),
    v1 AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_id < 10000 GROUP BY event_type
    )
    SELECT 0 AS version, event_type, n FROM v0
    UNION ALL
    SELECT 1 AS version, event_type, n FROM v1
    ORDER BY version, event_type
    """,
)
def q174_matview_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view subsystem (sources/matview.py) under the
    oracle gate: the same view is refreshed twice from growing source
    states (events < 5000, then < 10000); version 0 is read back by
    PINNED time travel and version 1 through the published pointer, and
    both snapshots must match their source state at refresh time -- the
    atomic-publish contract (full write THEN pointer swap) means a
    reader can never observe a half-written snapshot, and time travel
    means history is immutable once published.

    Scale notes: publication is one tiny-file rename regardless of
    snapshot size; readers pin a version for the duration of a job and
    vacuum reclaims unpinned history -- the lakehouse snapshot pattern
    without a table-format dependency.
    """
    from iot_data_pipeline_spark.sources import matview

    root = fresh_dir("q174_views")
    name = "event_counts"
    ev = read_table(spark, sf_dir, "events")
    for cap in (5000, 10000):
        snap = (
            ev.filter(F.col("event_id") < cap)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        matview.refresh(spark, root, name, snap)
    v0 = matview.read(spark, root, name, version=0).withColumn(
        "version", F.lit(0)
    )
    v1 = matview.read(spark, root, name).withColumn("version", F.lit(1))
    return (
        v0.unionByName(v1)
        .select("version", "event_type", "n")
        .orderBy("version", "event_type")
    )


@declared(
    "q177_stream_outer_join",
    oracle="""
    WITH p AS (
      SELECT event_id, ts, user_id, user_id % 50 AS user_bucket
      FROM events WHERE event_type = 'purchase' AND event_id < 10000
    ),
    c AS (
      SELECT ts, user_id, value FROM events
      WHERE event_type = 'click' AND event_id < 10000
    ),
    pairs AS (
      SELECT p.event_id, p.user_bucket, c.value
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 10 MINUTE
       AND c.ts <= p.ts
    )
    SELECT user_bucket,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_purchases,
           CAST(COUNT(value) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN value IS NULL THEN event_id END)
                AS BIGINT) AS n_unmatched,
           ROUND(SUM(value), 2) AS click_value
    FROM pairs GROUP BY user_bucket ORDER BY user_bucket
    """,
)
def q177_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join -- the attribution join
    that also KEEPS unattributed purchases (q53 emits matches only):
    outer rows can only emit once the watermark proves no future click
    can match, so a bounded run must advance the watermark PAST its own
    newest data. The fixture stages real events in file 1 and one
    trailing sentinel file (+2h, user_id = -1, filtered from results)
    that exists purely to push the watermark forward; the engine's
    trailing no-data micro-batch then runs the eviction that emits the
    outer rows -- the file-source stand-in for the heartbeat events a
    production topic emits for exactly this reason. The DuckDB
    oracle is the batch left join with the same bounds, so both the
    matched pairs AND the null-extended purchases are hash-checked.

    Scale notes: same state-store shape as q53 (both sides watermarked,
    eviction horizon from the interval bound); outer emission adds no
    state -- it is the eviction path itself surfacing rows. 2 shuffle
    partitions at this probe size (the probe session, as q53).
    """
    staged = _stage_q177_events(spark, sf_dir)
    schema = spark.read.parquet(staged).schema
    # 2 shuffle partitions: state-store instances = partitions x sides x
    # batches, and this probe's cost is store open/commit across the data
    # batch, the sentinel batch, and the trailing no-data eviction batch
    # -- not row volume
    src = (
        stream_probe_session(spark)
        .readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    purchases = src.filter(F.col("event_type") == "purchase")
    clicks = src.filter(F.col("event_type") == "click")
    from iot_data_pipeline_spark.streaming.windows import interval_join_streams

    joined = interval_join_streams(
        purchases, clicks, key="user_id", lookback="10 minutes", how="leftOuter"
    ).select(
        F.col("l.event_id").alias("p_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.value").alias("click_value_raw"),
    )
    return (
        _drain_to_memory(joined, "append", fresh_dir("q177_ckpt"))
        .filter(F.col("user_id") >= 0)  # drop watermark sentinels
        .groupBy((F.col("user_id") % 50).alias("user_bucket"))
        .agg(
            F.countDistinct("p_id").cast("bigint").alias("n_purchases"),
            F.count("click_value_raw").cast("bigint").alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("click_value_raw").isNull(), F.col("p_id"))
            )
            .cast("bigint")
            .alias("n_unmatched"),
            F.round(F.sum("click_value_raw"), 2).alias("click_value"),
        )
        .orderBy("user_bucket")
    )


@declared(
    "q189_dedup_within_watermark",
    oracle="""
    WITH appear AS (
      SELECT 1 AS b, r AS k, TIMESTAMP '2024-01-01 00:00:00' AS ts
      FROM range(10) t(r)
      UNION ALL
      SELECT 2, 10 + r, TIMESTAMP '2024-01-01 00:30:00' FROM range(2) t(r)
      UNION ALL SELECT 2, 5, TIMESTAMP '2024-01-01 00:05:00'
      UNION ALL SELECT 3, 12, TIMESTAMP '2024-01-01 00:31:00'
      UNION ALL
      SELECT 4, r, TIMESTAMP '2024-01-01 00:32:00' FROM range(2) t(r)
      UNION ALL SELECT 4, 10, TIMESTAMP '2024-01-01 00:32:00'
    ),
    wm AS (
      -- state evicted before batch b ran = the watermark DURING batch
      -- b-1 (itself computed from batches <= b-2) passed the expiry:
      -- eviction is an end-of-batch cleanup, so a duplicate arriving in
      -- the same batch whose watermark first exceeds the expiry is
      -- still suppressed (measured engine behavior, encoded here)
      SELECT b,
             MAX(mx) OVER (ORDER BY b
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 10 MINUTE AS w
      FROM (SELECT b, MAX(ts) AS mx FROM appear GROUP BY b)
    ),
    e1 AS (SELECT k, MIN(b) AS b1 FROM appear GROUP BY k),
    e1ts AS (
      SELECT a.k, e1.b1, MIN(a.ts) AS ts1
      FROM appear a JOIN e1 ON a.k = e1.k AND a.b = e1.b1
      GROUP BY a.k, e1.b1
    ),
    e2 AS (
      SELECT a.k, MIN(a.b) AS b2
      FROM appear a
      JOIN e1ts f ON a.k = f.k AND a.b > f.b1
      JOIN wm ON wm.b = a.b AND wm.w > f.ts1 + INTERVAL 10 MINUTE
      GROUP BY a.k
    ),
    e2ts AS (
      SELECT a.k, MIN(a.ts) AS ts2
      FROM appear a JOIN e2 ON a.k = e2.k AND a.b = e2.b2
      GROUP BY a.k
    ),
    em AS (
      SELECT k, ts1 AS ts FROM e1ts
      UNION ALL
      SELECT k, ts2 FROM e2ts
    )
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_emits,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM em GROUP BY k ORDER BY k
    """,
)
def q189_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (B42's bounded-state form) under
    the driver's hash gate -- completing the streaming-semantics trio
    (q177 outer-join eviction, q167 incremental rollup). Four staged
    micro-batches prove the three behaviors in one run:

    - batch 1 (t+0): keys 0-9 twice each              -> in-batch dedup;
    - batch 2 (t+30m): new keys 10/11 twice, plus a key-5 duplicate at
      t+5m (inside the 10-minute delay, so its drop is the API's
      *guarantee*, not an implementation accident) -> cross-batch
      suppression while state lives;
    - batch 3 (t+31m): one fresh key 12 -- exists so the watermark
      entering it (t+20m, from batch 2's max) runs the END-OF-BATCH
      cleanup that evicts keys 0-9 (expiry t+10m); a duplicate placed
      IN this batch would still be suppressed, because lookup precedes
      cleanup (measured: the 3-batch version of this fixture did not
      re-emit);
    - batch 4 (t+32m): keys 0/1 again -> re-emitted against the now-
      empty state (the deliberate state-size/completeness trade of
      infinite-stream dedup); key 10's duplicate (expiry t+40m) stays
      suppressed.

    The oracle replays the same batch schedule in SQL: emission 1 =
    first appearance of a key; emission 2 = first later appearance in a
    batch entered AFTER some completed batch's watermark passed emission
    1's expiry (the fixture has at most two emissions per key by
    construction, so the two-level unrolling is the exact semantics).

    Scale notes: state is one (key, expiry) entry per live key, evicted
    by watermark -- the only dedup shape that survives an unbounded
    stream; 2 shuffle partitions because the probe's cost is state-store
    open/commit across 4 micro-batches, not row volume (q177's knob).
    """
    from iot_data_pipeline_spark.queries.base import fmt_ts
    from iot_data_pipeline_spark.streaming.windows import dedup_stream

    staged = _stage_q189_dups(spark, sf_dir)
    src = (
        stream_probe_session(spark)
        .readStream.schema("k long, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    deduped = dedup_stream(src, ["k"], ts_col="ts", watermark="10 minutes")
    return (
        _drain_to_memory(deduped, "append", fresh_dir("q189_ckpt"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_emits"),
            fmt_ts(F.min("ts")).alias("first_seen"),
            fmt_ts(F.max("ts")).alias("last_seen"),
        )
        .orderBy("k")
    )


@declared(
    "q191_watermark_late_drop",
    oracle="""
    WITH appear AS (
      SELECT 1 AS b,
             TIMESTAMP '2024-01-01 00:00:00' + r * INTERVAL 1 MINUTE AS ts,
             CAST(r AS DOUBLE) AS v
      FROM range(15) t(r)
      UNION ALL SELECT 2, TIMESTAMP '2024-01-01 01:00:00', CAST(100 AS DOUBLE)
      UNION ALL SELECT 2, TIMESTAMP '2024-01-01 00:05:00', CAST(50 AS DOUBLE)
      UNION ALL SELECT 3, TIMESTAMP '2024-01-01 00:55:00', CAST(55 AS DOUBLE)
      UNION ALL SELECT 4, TIMESTAMP '2024-01-01 00:12:00', CAST(999 AS DOUBLE)
      UNION ALL SELECT 4, TIMESTAMP '2024-01-01 00:58:00', CAST(58 AS DOUBLE)
      UNION ALL SELECT 5, TIMESTAMP '2024-01-01 02:00:00', CAST(0 AS DOUBLE)
    ),
    wm AS (
      -- watermark DURING batch b = max event time of batches <= b-2
      -- minus the 10-minute delay: the engine folds batch b-1's
      -- event-time stats into the tracker only AFTER b-1 commits, so
      -- the value batch b is planned under lags one extra batch --
      -- measured engine behavior, same 2-batch lag q189's oracle encodes
      SELECT b,
             MAX(mx) OVER (ORDER BY b
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 10 MINUTE AS w
      FROM (SELECT b, MAX(ts) AS mx FROM appear GROUP BY b)
    ),
    kept AS (
      -- the late-drop rule under test: a row is dropped iff its window's
      -- END has already passed the watermark its batch runs under
      SELECT a.ts, a.v,
             CAST(to_timestamp(FLOOR(epoch(a.ts) / 600) * 600) AS TIMESTAMP)
               AS wstart
      FROM appear a JOIN wm ON wm.b = a.b
      WHERE wm.w IS NULL
         OR CAST(to_timestamp(FLOOR(epoch(a.ts) / 600) * 600 + 600)
                 AS TIMESTAMP) > wm.w
    ),
    final_wm AS (
      -- availableNow's trailing no-data batch runs eviction under the
      -- final watermark, emitting every closed window
      SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM appear
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(wstart + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(v), 2) AS total_value
    FROM kept, final_wm
    WHERE wstart + INTERVAL 10 MINUTE <= final_wm.w
    GROUP BY wstart ORDER BY wstart
    """,
)
def q191_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop (B41) under the driver's hash gate -- the
    last streaming-semantics row that was pytest-only. Five staged
    micro-batches drive ``windowed_value_counts`` (10-minute tumbling
    windows, 10-minute watermark, append mode) through all three
    outcomes a watermark defines:

    - batch 1 (t+0..t+14m): 15 on-time rows across windows W[0,10) and
      W[10,20);
    - batch 2 (t+60m + a t+5m straggler): the straggler lands in W[0,10)
      while no watermark constrains it yet (batches run under the
      watermark from TWO batches back -- see below) -> accepted late
      row, W[0,10) counts 11 not 10; its t+60m row is what later drives
      the watermark to t+50m;
    - batch 3 (t+55m): spacer + W[50,60) opener; exists so batch 4 runs
      under the watermark derived from batch 2 (t+50m);
    - batch 4: a t+12m straggler's window W[10,20) closed at t+20m <=
      watermark t+50m -> DROPPED (the bounded-state guarantee: its
      state no longer exists); a same-batch t+58m row's window W[50,60)
      is still open -> kept (n=2) -- keep-vs-drop discrimination inside
      one micro-batch;
    - batch 5 (t+120m sentinel): drives the final watermark to t+110m
      so the trailing no-data batches (q177's heartbeat discipline)
      emit every real window; the sentinel's own window never closes
      and is thereby excluded from append output.

    The oracle replays the same batch schedule in SQL under the
    measured watermark rule (the 2-batch lag q189's oracle encodes:
    batch b runs under max event time of batches <= b-2, minus delay):
    a row is kept iff its window end is ahead of the watermark its
    batch ran under, and a window emits iff the final watermark passed
    its end -- so a missed drop (n=6 in W[10,20)), a lost accepted-late
    row (n=10 in W[0,10)), and a phantom sentinel window all fail the
    hash.

    Scale notes: state is one (window, partial-agg) entry per open
    window, evicted at emission -- the only windowed-agg shape that
    survives an unbounded stream; 2 shuffle partitions because the
    probe's cost is state-store open/commit across 5 micro-batches, not
    row volume (q189's knob).
    """
    from iot_data_pipeline_spark.queries.base import fmt_ts
    from iot_data_pipeline_spark.streaming.windows import windowed_value_counts

    staged = _stage_q191_late(spark, sf_dir)
    src = (
        stream_probe_session(spark)
        .readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    windowed = windowed_value_counts(
        src, ts_col="ts", value_col="v", window="10 minutes",
        watermark="10 minutes",
    )
    return (
        _drain_to_memory(windowed, "append", fresh_dir("q191_ckpt"))
        .select(
            fmt_ts("window_start").alias("window_start"),
            fmt_ts("window_end").alias("window_end"),
            F.col("n").cast("bigint").alias("n"),
            "total_value",
        )
        .orderBy("window_start")
    )
