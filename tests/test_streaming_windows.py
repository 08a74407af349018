"""Streaming window / watermark / dedup tests (B38-B42).

Parity strategy: run each streaming helper over a file stream of JSONL
events and compare with the equivalent batch computation over the same
records. The watermark test feeds a second file whose rows are older than
(max_seen_ts - watermark) to prove late data is dropped in append mode.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from iot_data_pipeline_spark.streaming.windows import (
    dedup_stream,
    windowed_value_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write(d, name, rows, mtime: int | None = None):
    import os

    path = d / name
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    if mtime is not None:
        # file-source micro-batch order follows modification time; pin it so
        # "file 2 arrives later" is a fact, not a same-millisecond race.
        os.utime(path, (mtime, mtime))


def _ev(eid, ts, uid=1, value=1.0):
    return {"event_id": eid, "ts": ts, "user_id": uid, "value": value}


def _run_stream(spark, tmp_path, raw, build, name):
    stream = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).json(str(raw))
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{name} did not drain")
    return spark.table(name)


def test_tumbling_window_with_late_drop(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    # Append-mode late-drop semantics (verified against this Spark build):
    # a late row is dropped only once its window's state has been EVICTED
    # at a prior batch boundary -- a late row landing in the same batch as
    # the eviction still merges. So: file 1 advances the watermark to
    # 13:30-2h=11:30; file 2's batch evicts+emits the hour-10 window; file
    # 3's hour-10 row then hits numRowsDroppedByWatermark.
    _write(
        raw,
        "f1.jsonl",
        [
            _ev(1, "2026-01-01T10:05:00Z", value=1.0),
            _ev(2, "2026-01-01T10:20:00Z", value=2.0),
            _ev(3, "2026-01-01T13:30:00Z", value=4.0),
        ],
        mtime=1_700_000_000,
    )
    _write(
        raw,
        "f2.jsonl",
        [_ev(5, "2026-01-01T12:10:00Z", value=8.0)],
        mtime=1_700_000_060,
    )
    _write(
        raw,
        "f3.jsonl",
        [_ev(4, "2026-01-01T10:30:00Z", value=100.0)],  # late: window closed
        mtime=1_700_000_120,
    )
    got = _run_stream(
        spark,
        tmp_path,
        raw,
        lambda s: windowed_value_counts(s, watermark="2 hours"),
        "tumbling_late",
    )
    rows = {
        r["window_start"].isoformat(): (r["n"], r["total_value"])
        for r in got.collect()
    }
    # hour 10 closed with ONLY the on-time rows; the late 100.0 was dropped
    # and no duplicate hour-10 window row was ever emitted.
    assert rows["2026-01-01T10:00:00"] == (2, 3.0)
    assert len([r for r in got.collect() if r["window_start"].hour == 10]) == 1


def test_sliding_window_matches_batch(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    rows = [
        _ev(i, f"2026-01-01T10:{m:02d}:00Z", value=float(i))
        for i, m in enumerate([0, 10, 20, 40, 55])
    ] + [_ev(99, "2026-01-01T14:00:00Z", value=0.0)]  # closes all 10:xx windows
    _write(raw, "f1.jsonl", rows)
    got = _run_stream(
        spark,
        tmp_path,
        raw,
        lambda s: windowed_value_counts(s, window="1 hour", slide="15 minutes"),
        "sliding_parity",
    )
    batch = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["value"]) for r in rows],
        "event_id long, ts string, user_id long, value double",
    ).select(F.to_timestamp("ts").alias("ts"), "value")
    want = (
        batch.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .select(F.col("w.start").alias("ws"), "n", "tv")
    )
    want_rows = {r["ws"]: (r["n"], r["tv"]) for r in want.collect()}
    got_rows = {r["window_start"]: (r["n"], r["total_value"]) for r in got.collect()}
    # every closed streaming window matches the batch computation exactly
    for ws, nv in got_rows.items():
        assert want_rows[ws] == nv
    # and all windows not containing the sentinel must have closed
    open_allowed = {ws for ws in want_rows if ws.hour >= 13}
    assert set(got_rows) >= set(want_rows) - open_allowed


def test_dedup_stream_within_watermark(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    _write(
        raw,
        "f1.jsonl",
        [
            _ev(1, "2026-01-01T10:00:00Z", value=1.0),
            _ev(1, "2026-01-01T10:01:00Z", value=2.0),  # dup within watermark
            _ev(2, "2026-01-01T10:05:00Z", value=3.0),
        ],
        mtime=1_700_000_000,
    )
    _write(
        raw,
        "f2.jsonl",
        [
            _ev(1, "2026-01-01T10:02:00Z", value=4.0),  # dup across batches
            _ev(3, "2026-01-01T10:06:00Z", value=5.0),
        ],
        mtime=1_700_000_060,
    )
    got = _run_stream(
        spark,
        tmp_path,
        raw,
        lambda s: dedup_stream(s, ["event_id"], ts_col="ts"),
        "dedup_wm",
    )
    ids = sorted(r["event_id"] for r in got.collect())
    assert ids == [1, 2, 3]  # each event_id exactly once, across batches


def test_dedup_within_watermark_expiry_is_first_occurrence_only(
    spark, tmp_path
):
    """Pins the state-lifetime semantics q189's oracle encodes: a key's
    dedup-state expiry is set by its FIRST occurrence's event time and is
    NOT extended by later suppressed duplicates. Schedule (delay 10m):

      b1: A@+0            -> emits; state expiry +10m
      b2: A@+9m (dup, within delay -> guaranteed drop), F1@+9m
      b3: F2@+25m         -> watermark entering b4 becomes +15m
      b4: F3@+26m         -> end-of-batch cleanup evicts A (+10m < +15m);
                             were expiry refreshed to +19m by the b2 dup,
                             A would still be live here
      b5: A@+27m          -> re-emits (proves no refresh)

    Also pins the end-of-batch eviction lag (the q189 fixture's reason
    for a spacer batch): the wm entering b3 is only -1m, so eviction
    cannot happen before b4.
    """
    d = tmp_path / "raw_expiry"
    d.mkdir()
    T0 = "TIMESTAMP'2024-01-01 00:00:00'"

    def w(rows):
        spark.range(len(rows)).selectExpr(
            "CASE id "
            + " ".join(f"WHEN {i} THEN {k}L" for i, (k, _) in enumerate(rows))
            + " END AS k",
            "CASE id "
            + " ".join(
                f"WHEN {i} THEN {T0} + INTERVAL {m} MINUTES"
                for i, (_, m) in enumerate(rows)
            )
            + " END AS ts",
        ).coalesce(1).write.mode("append").parquet(str(d))

    w([(1, 0)])
    w([(1, 9), (100, 9)])
    w([(101, 25)])
    w([(102, 26)])
    w([(1, 27)])
    src = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = dedup_stream(src, ["k"], ts_col="ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_expiry_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_expiry"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["k"], str(r["ts"]))
        for r in spark.table("dedup_expiry_probe").collect()
    )
    assert rows == [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:27:00"),  # re-emitted: expiry was NOT refreshed
        (100, "2024-01-01 00:09:00"),
        (101, "2024-01-01 00:25:00"),
        (102, "2024-01-01 00:26:00"),
    ]


def test_checkpoint_restart_invariance_stateful(spark, tmp_path):
    """Round-12 probe axis: exactly-once across an engine RESTART with
    live watermark/window state. The uninterrupted run (all four files,
    one availableNow drain) and the restarted run (two files, full
    drain, engine 'shutdown', two more files, SECOND drain from the
    same checkpoint into the same sink) must produce byte-identical
    output -- the checkpoint must restore watermark + window state, and
    the file-sink manifest must neither lose nor duplicate finalized
    windows across the restart. This is the exactly-once contract a
    production availableNow pipeline actually leans on; q14 only proved
    new-file tracking."""
    base = "2024-01-01 00:{m:02d}:00"
    files = [
        [_ev(1, base.format(m=1)), _ev(2, base.format(m=2))],
        [_ev(3, base.format(m=11)), _ev(4, base.format(m=12))],
        [_ev(5, base.format(m=31)), _ev(6, base.format(m=32))],
        [_ev(7, base.format(m=51)), _ev(8, base.format(m=52))],
    ]

    def run(raw_dir, out, ckpt, batches):
        stream = spark.readStream.schema(EVENT_SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).json(str(raw_dir))
        q = (
            windowed_value_counts(stream, window="10 minutes", watermark="5 minutes")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain")

    # uninterrupted reference
    raw1 = tmp_path / "raw1"
    raw1.mkdir()
    for i, rows in enumerate(files):
        _write(raw1, f"f{i}.jsonl", rows, mtime=1_700_000_000 + i)
    run(raw1, tmp_path / "out1", tmp_path / "ck1", files)

    # restarted: files 0-1, drain, 'restart', files 2-3, drain again
    raw2 = tmp_path / "raw2"
    raw2.mkdir()
    for i in (0, 1):
        _write(raw2, f"f{i}.jsonl", files[i], mtime=1_700_000_000 + i)
    run(raw2, tmp_path / "out2", tmp_path / "ck2", files[:2])
    for i in (2, 3):
        _write(raw2, f"f{i}.jsonl", files[i], mtime=1_700_000_000 + i)
    run(raw2, tmp_path / "out2", tmp_path / "ck2", files[2:])

    a = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out1")).collect()))
    b = sorted(map(tuple, spark.read.parquet(str(tmp_path / "out2")).collect()))
    assert a == b and len(a) > 0


def test_checkpoint_restart_invariance_dedup_state(spark, tmp_path):
    """Restart twin for the DEDUP state store: a key first seen before
    the restart must still be suppressed when it recurs after the
    restart (within the watermark horizon) -- the restored state, not
    the re-scanned input, carries that knowledge, because the file
    source never re-reads files 0-1 on the second drain."""
    base = "2024-01-01 00:{m:02d}:00"
    files = [
        [_ev(1, base.format(m=1), uid=10), _ev(2, base.format(m=2), uid=11)],
        [_ev(3, base.format(m=3), uid=12)],
        # after restart: uid 10 recurs (must suppress), uid 13 is new
        [_ev(4, base.format(m=4), uid=10), _ev(5, base.format(m=5), uid=13)],
    ]

    def run(raw_dir, name, ckpt):
        stream = spark.readStream.schema(EVENT_SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).json(str(raw_dir))
        q = (
            dedup_stream(stream, ["user_id"], ts_col="ts", watermark="2 hours")
            .select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out_{name}"))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain")

    raw = tmp_path / "raw_d"
    raw.mkdir()
    for i in (0, 1):
        _write(raw, f"f{i}.jsonl", files[i], mtime=1_700_000_000 + i)
    run(raw, "d", tmp_path / "ck_d")
    _write(raw, "f2.jsonl", files[2], mtime=1_700_000_002)
    run(raw, "d", tmp_path / "ck_d")
    rows = sorted(
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(str(tmp_path / "out_d")).collect()
    )
    # event 4 (uid 10 recurrence) suppressed ONLY if state survived restart
    assert rows == [(1, 10), (2, 11), (3, 12), (5, 13)]


def test_state_store_provider_pinned_by_checkpoint(spark, tmp_path):
    """Round-12 probe (the queued provider-migration axis): restarting a
    checkpointed stateful query with a DIFFERENT
    ``stateStore.providerClass`` does NOT migrate the state -- Spark
    pins the ORIGINAL provider in the checkpoint's offsets conf and
    silently ignores the new session conf. Exactly-once state carries
    (the safe outcome; a dedup key from before the 'migration' still
    suppresses after it), but an operator who believes they switched to
    RocksDB did not: the state files stay .delta and the offsets conf
    keeps the HDFS-backed class. Pinned so a Spark-version change in
    either direction (real migration, or a loud refusal) surfaces."""
    import glob as _glob
    import json as _json

    base = "2024-01-01 00:{m:02d}:00"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )

    def run(provider=None):
        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, "")
        if provider:
            spark.conf.set(key, provider)
        try:
            stream = spark.readStream.schema(EVENT_SCHEMA).option(
                "maxFilesPerTrigger", "1"
            ).json(str(tmp_path / "raw"))
            q = (
                dedup_stream(stream, ["user_id"], ts_col="ts", watermark="2 hours")
                .select("event_id", "user_id")
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "out"))
                .option("checkpointLocation", str(tmp_path / "ck"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            if q.isActive:
                q.stop()
                raise TimeoutError("stream did not drain")
        finally:
            if provider:
                if old:
                    spark.conf.set(key, old)
                else:
                    spark.conf.unset(key)

    raw = tmp_path / "raw"
    raw.mkdir()
    _write(raw, "f0.jsonl", [_ev(1, base.format(m=1), uid=10),
                             _ev(2, base.format(m=2), uid=11)],
           mtime=1_700_000_000)
    run()  # default (HDFS-backed) provider owns the checkpoint
    _write(raw, "f1.jsonl", [_ev(3, base.format(m=3), uid=10),
                             _ev(4, base.format(m=4), uid=13)],
           mtime=1_700_000_001)
    run(provider=rocks)  # attempted migration
    rows = sorted(
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert rows == [(1, 10), (2, 11), (4, 13)]  # state carried exactly
    # ...because the checkpoint kept the ORIGINAL provider:
    pinned = set()
    for off in _glob.glob(str(tmp_path / "ck" / "offsets" / "*")):
        for line in open(off):
            if "providerClass" in line:
                pinned.add(
                    _json.loads(line)["conf"][
                        "spark.sql.streaming.stateStore.providerClass"
                    ]
                )
    assert pinned == {
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    }, pinned
    assert _glob.glob(str(tmp_path / "ck" / "state" / "**" / "*.delta"),
                      recursive=True)


def test_checkpoint_restart_invariance_rocksdb_provider(spark, tmp_path):
    """RocksDB twin of the restart band (r13-queued, pulled forward):
    the bounded-heap provider a real deployment tunes must restore its
    dedup state across an engine restart exactly like the default
    provider -- RocksDB's restore path (SST reload + changelog replay)
    is otherwise exercised only within a single run."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    base = "2024-01-01 00:{m:02d}:00"

    def run():
        stream = spark.readStream.schema(EVENT_SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).json(str(tmp_path / "raw"))
        q = (
            dedup_stream(stream, ["user_id"], ts_col="ts", watermark="2 hours")
            .select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain")

    raw = tmp_path / "raw"
    raw.mkdir()
    old = spark.conf.get(key, "")
    spark.conf.set(key, rocks)
    try:
        _write(raw, "f0.jsonl", [_ev(1, base.format(m=1), uid=10),
                                 _ev(2, base.format(m=2), uid=11)],
               mtime=1_700_000_000)
        run()
        _write(raw, "f1.jsonl", [_ev(3, base.format(m=3), uid=10),
                                 _ev(4, base.format(m=4), uid=13)],
               mtime=1_700_000_001)
        run()
    finally:
        if old:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    rows = sorted(
        (r["event_id"], r["user_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert rows == [(1, 10), (2, 11), (4, 13)]
    # the checkpoint really is RocksDB-provider-owned
    import glob as _glob
    import json as _json

    pinned = set()
    for off in _glob.glob(str(tmp_path / "ck" / "offsets" / "*")):
        for line in open(off):
            if "providerClass" in line:
                pinned.add(_json.loads(line)["conf"][key])
    assert pinned == {rocks}, pinned


def test_checkpoint_loss_with_reused_file_sink_loses_batches(spark, tmp_path):
    """Round-12 probe, PINNED SPARK POSTURE (not engine behavior): the
    file sink's _spark_metadata log and the checkpoint are ONE
    consistency unit. Losing the checkpoint but reusing the sink dir is
    SILENT LOSS, not duplication: the fresh query restarts at batch 0,
    sees batch 0 already committed in the sink's metadata log, and
    skips its own batch-0 output. Operational contract (documented in
    streaming/ingest.py): on checkpoint loss, start a fresh sink dir
    too. Pinned so a Spark-version change of this posture surfaces."""
    import shutil

    raw = tmp_path / "raw"
    raw.mkdir()
    _write(raw, "f0.jsonl", [_ev(1, "2024-01-01 00:01:00")], mtime=1_700_000_000)

    def run(ck):
        q = (
            spark.readStream.schema(EVENT_SCHEMA)
            .json(str(raw))
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(ck))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain")

    run(tmp_path / "ck1")
    shutil.rmtree(tmp_path / "ck1")  # checkpoint lost
    _write(raw, "f1.jsonl", [_ev(2, "2024-01-01 00:02:00")], mtime=1_700_000_001)
    run(tmp_path / "ck2")  # fresh checkpoint, SAME sink dir
    rows = sorted(
        r["event_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # exactly-once would be [1, 2]; the measured posture is loss of the
    # re-run batch 0 (which re-read BOTH files) -> only the original row
    assert rows == [1], rows
