"""Streaming ingest tests: Q14 semantics (SURVEY.md section 2.3).

Contract under test (reference A15/A16 -> B37):
- ``Trigger.AvailableNow`` over a raw dir == batch read of the same dir
  (streaming/batch parity, the Q14 oracle rule);
- checkpointed file tracking: re-running after new files arrive processes
  ONLY the new files (the S3-notification dedup the reference gets from
  one-event-per-object, lambda/s3_event_handler.py:44-48);
- per-file routing: output partitioned by source file basename
  (``processed/<basename>`` rule, lambda/s3_event_handler.py:65);
- corrupt lines land in the dead-letter channel, never fail the stream.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.pipeline import PipelineConfig, transform_sensor
from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt
from iot_data_pipeline_spark.streaming.ingest import (
    run_ingest_available_now,
    start_sensor_ingest,
)

CLOCK = "2026-01-01 00:00:00"


def _write_file(raw_dir, name: str, records: list) -> None:
    path = raw_dir / name
    with open(path, "w") as f:
        for r in records:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


def _records(device: int, n: int, base_temp: float) -> list:
    return [
        {
            "device_id": f"device-{device}",
            "temperature": base_temp + i,
            "humidity": 40.0 + i,
            "timestamp": f"2026-01-01T0{i}:00:00Z",
        }
        for i in range(n)
    ]


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    _write_file(d, "a.jsonl", _records(1, 3, 10.0))
    _write_file(
        d, "b.jsonl", _records(2, 2, 20.0) + ["this is a bad line"]
    )
    return d


def _run(spark, raw_dir, tmp_path):
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    run_ingest_available_now(
        spark,
        str(raw_dir),
        str(out),
        str(ckpt),
        config=PipelineConfig(fixed_clock=CLOCK),
        timeout_s=120,
    )
    return out, ckpt


def test_max_files_per_trigger_batches(spark, raw_dir, tmp_path):
    """max_files_per_trigger=1 must yield one micro-batch PER FILE (the
    reference's one-task-per-file Lambda contract, kept as an explicit
    engine capability after q182's bench probe moved to single-batch
    draining in round 16) -- and the per-batch boundary must not change
    the output: results equal the unbatched run's."""
    out = tmp_path / "out_mft"
    ckpt = tmp_path / "ckpt_mft"
    run_ingest_available_now(
        spark,
        str(raw_dir),
        str(out),
        str(ckpt),
        config=PipelineConfig(fixed_clock=CLOCK),
        timeout_s=120,
        max_files_per_trigger=1,
    )
    # one offsets-log entry per data micro-batch: 2 files -> batches 0,1
    offsets = sorted(
        p.name for p in (ckpt / "offsets").iterdir() if not p.name.startswith(".")
    )
    assert offsets == ["0", "1"], offsets
    got = (
        spark.read.parquet(str(out))
        .select("device_id", "temperature", "temp_fahrenheit", "source_file")
        .orderBy("device_id", "temperature")
        .collect()
    )
    out2, _ = _run(spark, raw_dir, tmp_path)  # unbatched drain
    want = (
        spark.read.parquet(str(out2))
        .select("device_id", "temperature", "temp_fahrenheit", "source_file")
        .orderBy("device_id", "temperature")
        .collect()
    )
    assert got == want
    assert len(got) == 5


def test_streaming_equals_batch(spark, raw_dir, tmp_path):
    out, _ = _run(spark, raw_dir, tmp_path)
    got = (
        spark.read.parquet(str(out))
        .select("device_id", "temperature", "temp_fahrenheit")
        .orderBy("device_id", "temperature")
        .collect()
    )
    batch_good, _ = split_corrupt(read_jsonl(spark, str(raw_dir)))
    want = (
        transform_sensor(batch_good, PipelineConfig(fixed_clock=CLOCK))
        .select("device_id", "temperature", "temp_fahrenheit")
        .orderBy("device_id", "temperature")
        .collect()
    )
    assert got == want
    assert len(got) == 5


def test_per_file_routing_and_dead_letter(spark, raw_dir, tmp_path):
    out, _ = _run(spark, raw_dir, tmp_path)
    routed = (
        spark.read.parquet(str(out))
        .groupBy("source_file")
        .count()
        .orderBy("source_file")
        .collect()
    )
    assert [(r["source_file"], r["count"]) for r in routed] == [
        ("a.jsonl", 3),
        ("b.jsonl", 2),
    ]
    dead = spark.read.parquet(str(out / "_dead_letter"))
    rows = dead.select("raw_line", "source_file").collect()
    assert len(rows) == 1
    assert rows[0]["raw_line"] == "this is a bad line"
    assert rows[0]["source_file"] == "b.jsonl"


def _tasks_per_job(spark, query) -> list[int]:
    """The task count of each Spark job a stream has run, in job order
    (the stream runs its jobs under its ``runId`` as job group)."""
    tracker = spark.sparkContext.statusTracker()
    return [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in sorted(tracker.getJobIdsForGroup(str(query.runId)))
    ]


def test_one_batch_runs_one_pass_the_guard_and_two_writes(
    spark, raw_dir, tmp_path, monkeypatch
):
    """A 2-file batch with a corrupt line runs at most 4 Spark jobs under
    the query's job group (one pass that caches and counts the batch, the
    zone write, the dead-letter write; no separate count, aggregate or
    dead-letter probe; 7 before), each as one task: the body packs the two
    tiny files into one partition (one task per file and job before). The
    vanished-file guard resolves no file path: every listed file
    contributed rows, so none needs an existence probe."""
    from iot_data_pipeline_spark.streaming import ingest as ingest_mod

    queries = []
    real_start = ingest_mod.start_sensor_ingest

    def start(*args, **kwargs):
        queries.append(real_start(*args, **kwargs))
        return queries[-1]

    resolved = []
    real_resolve = ingest_mod._log_uri_to_path

    def resolve(jvm, uri):
        resolved.append(uri)
        return real_resolve(jvm, uri)

    monkeypatch.setattr(ingest_mod, "start_sensor_ingest", start)
    monkeypatch.setattr(ingest_mod, "_log_uri_to_path", resolve)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    run_ingest_available_now(
        spark,
        str(raw_dir),
        str(out),
        str(ckpt),
        config=PipelineConfig(fixed_clock=CLOCK),
        timeout_s=120,
    )
    offsets = [p.name for p in (ckpt / "offsets").iterdir() if not p.name.startswith(".")]
    assert offsets == ["0"]  # both files in one micro-batch
    assert resolved == []
    tasks = _tasks_per_job(spark, queries[0])
    assert 0 < len(tasks) <= 4, tasks
    assert tasks == [1] * len(tasks), tasks
    assert spark.read.parquet(str(out)).count() == 5
    assert spark.read.parquet(str(out / "_dead_letter")).count() == 1


def test_clean_batch_leaves_readable_empty_dead_letter(spark, tmp_path):
    """A batch with no corrupt row still leaves ``_dead_letter`` readable
    (0 rows, the channel's schema), and neither channel keeps a
    dynamic-overwrite staging directory behind."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "a.jsonl", _records(1, 3, 10.0))
    out, _ = _run(spark, raw, tmp_path)
    dead = spark.read.parquet(str(out / "_dead_letter"))
    assert dead.count() == 0
    assert sorted(dead.columns) == ["_ingest_ts", "raw_line", "source_file"]
    assert spark.read.parquet(str(out)).count() == 3
    for d in (out, out / "_dead_letter"):
        assert not [p.name for p in d.iterdir() if p.name.startswith(".spark-staging")]


@pytest.mark.parametrize("dim_rows", [0, 100])
def test_clean_batch_skips_the_dead_letter_write(spark, tmp_path, dim_rows):
    """A clean 2-file batch runs one task per Spark job: the cache pass
    and the zone write, plus, with an in-memory dim, its broadcast. The
    dead letter, seeded at stream start, is not written again for 0
    corrupt rows (no dim: 3 jobs of 2 tasks before), and the 100-row dim
    is broadcast from one partition (one task per core before)."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "a.jsonl", _records(1, 3, 10.0))
    _write_file(raw, "b.jsonl", _records(2, 2, 20.0))
    dim = None
    if dim_rows:
        dim = spark.createDataFrame(
            [(f"device-{i}", f"loc-{i}") for i in range(dim_rows)],
            "device_id string, location_id string",
        )
    out = tmp_path / "out"
    q = start_sensor_ingest(
        spark, str(raw), str(out), str(tmp_path / "ckpt"),
        PipelineConfig(fixed_clock=CLOCK), dim_location=dim,
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert _tasks_per_job(spark, q) == [1] * (3 if dim_rows else 2)
    assert spark.read.parquet(str(out)).count() == 5
    assert spark.read.parquet(str(out / "_dead_letter")).count() == 0


def test_routing_decodes_special_character_basenames(spark, tmp_path):
    """Round-11 probe: input_file_name() returns the file's URI, so a
    raw file "data file u.jsonl" routed as "data%20file%20u.jsonl". The
    basename is now percent-decoded back to the real name -- with '+'
    pre-escaped first, because url_decode is FORM decoding and would
    turn a literal plus into a space. Beneficial divergence from the
    reference, which passes the S3 event key UNDECODED into get_object
    (lambda/s3_event_handler.py:38,63) and NoSuchKey-fails such files
    entirely."""
    d = tmp_path / "raw"
    d.mkdir()
    _write_file(d, "data file ü.jsonl", _records(1, 2, 10.0))
    _write_file(d, "a+b.jsonl", _records(2, 2, 20.0))
    out, _ = _run(spark, d, tmp_path)
    routed = sorted(
        r["source_file"]
        for r in spark.read.parquet(str(out)).select("source_file").distinct().collect()
    )
    assert routed == ["a+b.jsonl", "data file ü.jsonl"], routed


def test_checkpoint_processes_only_new_files(spark, raw_dir, tmp_path):
    out, ckpt = _run(spark, raw_dir, tmp_path)
    first = spark.read.parquet(str(out)).count()
    assert first == 5

    _write_file(raw_dir, "c.jsonl", _records(3, 4, 30.0))
    run_ingest_available_now(
        spark,
        str(raw_dir),
        str(out),
        str(ckpt),
        config=PipelineConfig(fixed_clock=CLOCK),
        timeout_s=120,
    )
    df = spark.read.parquet(str(out))
    # a/b NOT reprocessed (no duplicates), c picked up.
    assert df.count() == 9
    assert df.filter(F.col("source_file") == "c.jsonl").count() == 4


def test_suffix_filter_ignores_non_jsonl(spark, raw_dir, tmp_path):
    _write_file(raw_dir, "ignore.txt", _records(9, 5, 0.0))
    out, _ = _run(spark, raw_dir, tmp_path)
    df = spark.read.parquet(str(out))
    assert df.filter(F.col("device_id") == "device-9").count() == 0
    assert df.count() == 5


def test_stream_static_join_rereads_dim(spark, tmp_path):
    """Stream-static joins re-execute the static side per micro-batch, so
    a dim updated between batches enriches later records with the NEW
    values -- the zero-infrastructure slowly-changing-dim pattern."""
    import json

    raw = tmp_path / "raw"
    raw.mkdir()
    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")

    from iot_data_pipeline_spark.sources.readers import SENSOR_SCHEMA

    spark.createDataFrame(
        [("device-1", "loc-OLD")], "device_id string, location_id string"
    ).write.mode("overwrite").parquet(dim_path)

    def drain():
        stream = (
            spark.readStream.schema(SENSOR_SCHEMA)
            .json(str(raw))
            .select("device_id", "temperature")
        )
        dim = spark.read.parquet(dim_path)
        q = (
            stream.join(dim, "device_id", "left")
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    with open(raw / "f1.jsonl", "w") as f:
        f.write(json.dumps({"device_id": "device-1", "temperature": 1.0}) + "\n")
    drain()

    # update the dim between batches
    spark.createDataFrame(
        [("device-1", "loc-NEW")], "device_id string, location_id string"
    ).write.mode("overwrite").parquet(dim_path)

    with open(raw / "f2.jsonl", "w") as f:
        f.write(json.dumps({"device_id": "device-1", "temperature": 2.0}) + "\n")
    drain()

    got = {
        r["temperature"]: r["location_id"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1.0: "loc-OLD", 2.0: "loc-NEW"}


def test_crash_midstream_recovers_exactly_once(spark, raw_dir, tmp_path):
    """Fault-injected recovery: with maxFilesPerTrigger=1 the 3-file
    backlog is 3 micro-batches; the sink throws on the SECOND batch after
    the first has committed. Restarting from the same checkpoint must (a)
    not re-emit batch 0's rows (no duplicates) and (b) finish the backlog
    -- the exactly-once contract the reference's at-least-once Lambda
    retry loop cannot give (reference lambda/s3_event_handler.py retries
    re-run the whole file)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from iot_data_pipeline_spark.streaming.ingest import read_sensor_stream

    _write_file(raw_dir, "c.jsonl", _records(3, 4, 30.0))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def make_writer(fail_on_second: bool):
        def process(batch_df, batch_id):
            if fail_on_second and batch_id == 1:
                raise RuntimeError("injected sink fault")
            (
                batch_df.filter(F.col("_corrupt_record").isNull())
                .drop("_corrupt_record")
                .write.mode("append")
                .parquet(out)
            )

        return process

    def run(fail_on_second: bool):
        q = (
            read_sensor_stream(spark, str(raw_dir), max_files_per_trigger=1)
            .writeStream.foreachBatch(make_writer(fail_on_second))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(StreamingQueryException, match="injected sink fault"):
        run(fail_on_second=True)
    committed = spark.read.parquet(out).count()
    assert committed > 0  # batch 0 landed before the fault

    run(fail_on_second=False)  # restart from the same checkpoint
    final = spark.read.parquet(out)
    assert final.count() == 9  # 3 (a) + 2 (b, bad line dropped) + 4 (c)
    # no row duplicated: device+timestamp+humidity is unique in fixtures
    assert final.dropDuplicates(["device_id", "timestamp", "humidity"]).count() == 9


# ------------------------------------- raw-zone mutation between/within bursts
# (round-13 probe: Spark's file source dedups on PATH and internally
# tolerates missing files, so both mutation modes were SILENT loss)


def test_replaced_raw_file_fails_loud(spark, tmp_path):
    """A raw file REPLACED in place between bursts can never re-ingest
    through the same checkpoint (path-keyed dedup) -- measured: its new
    content silently vanished, where the reference's S3-event model
    would reprocess the overwritten object. The burst now fails loud."""
    import time

    from iot_data_pipeline_spark.streaming.ingest import (
        detect_replaced_source_files,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
    )
    assert spark.read.parquet(out).count() == 2
    time.sleep(1.1)  # strictly newer mtime than the checkpoint recorded
    _write_file(raw, "f1.jsonl", _records(1, 5, 20.0))
    assert detect_replaced_source_files(spark, ckpt) == [
        f"file://{raw}/f1.jsonl"
    ]
    with pytest.raises(RuntimeError, match="REPLACED"):
        run_ingest_available_now(
            spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
        )


def test_vanished_mid_burst_fails_loud_and_recovers(
    spark, tmp_path, monkeypatch
):
    """A listed file deleted before its micro-batch reads it: Spark
    commits the batch EMPTY and the checkpoint marks the file processed
    -- measured as silent loss with a clean exit. The per-batch guard
    now fails the query BEFORE the commit, so restoring the file and
    re-running drains its rows exactly once."""
    import os as _os

    from iot_data_pipeline_spark import pipeline as pipeline_mod

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    import time

    time.sleep(1.1)
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))
    f2_stat = _os.stat(raw / "f2.jsonl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    real_transform = pipeline_mod.transform_sensor
    state = {"deleted": False}

    def delete_f2_then_transform(df, config, dim=None):
        # driver-side, runs once per micro-batch: the deletion lands
        # deterministically between batch 0 (f1) and batch 1 (f2).
        # (start_sensor_ingest also calls transform_sensor on a 0-row
        # frame to seed the zone schema BEFORE the stream lists the
        # raw dir -- only fire on a real, row-bearing batch.)
        if not state["deleted"] and df.limit(1).count() > 0:
            _os.remove(raw / "f2.jsonl")
            state["deleted"] = True
        return real_transform(df, config, dim)

    monkeypatch.setattr(
        pipeline_mod, "transform_sensor", delete_f2_then_transform
    )
    with pytest.raises(Exception, match="vanished mid-burst"):
        run_ingest_available_now(
            spark,
            str(raw),
            out,
            ckpt,
            config=PipelineConfig(fixed_clock=CLOCK),
            max_files_per_trigger=1,
        )
    monkeypatch.setattr(pipeline_mod, "transform_sensor", real_transform)
    # batch 1 never committed: f1's rows are out, f2's are recoverable
    assert spark.read.parquet(out).count() == 2
    assert not _os.path.exists(_os.path.join(ckpt, "commits", "1"))
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))  # restore
    # the restore is the same file: give it back its recorded mtime
    _os.utime(raw / "f2.jsonl", ns=(f2_stat.st_atime_ns, f2_stat.st_mtime_ns))
    run_ingest_available_now(
        spark,
        str(raw),
        out,
        ckpt,
        config=PipelineConfig(fixed_clock=CLOCK),
        max_files_per_trigger=1,
    )
    assert spark.read.parquet(out).count() == 5


def test_vanished_guard_writes_nothing_so_retry_never_duplicates(
    spark, tmp_path, monkeypatch
):
    """Round-14 advisor find: the guard used to raise AFTER the
    processed/dead-letter appends, so in a multi-file batch the
    SURVIVING files' rows were already in the output when the batch
    failed to commit -- and because the terminal condition (file gone)
    persists, every restart-retry re-appended them: duplicates
    compounding per retry. The guard now runs before any write; a
    failed batch writes NOTHING and the retry after restoring the file
    drains every row exactly once.

    Two loud failure shapes are both correct here: the guard's own
    "vanished mid-burst" raise, or FAILED_READ_FILE.FILE_NOT_EXIST from
    the batch materialization when the deletion lands after the batch's
    file index was resolved (Spark throws instead of tolerating in that
    sub-window). Under the pre-fix ordering either one fired AFTER the
    appends -- this test's count==0 assertion fails on that ordering.

    (Round 15 moved the batch materialization BEFORE the guard -- the
    advisor's probe-vs-read window -- so the deletion here is injected
    at the per-batch zone-layout check, which still runs before any
    read; a deletion landing after the read is now tolerated WITHOUT
    loss, frozen separately in
    test_deletion_after_read_tolerated_without_loss.)"""
    import os as _os

    from iot_data_pipeline_spark.sources import matview as matview_mod

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))
    f2_stat = _os.stat(raw / "f2.jsonl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    real_guard = matview_mod.ensure_plain_zone
    state = {"deleted": False}

    def delete_f2_then_guard(spark_, path_, op_):
        # Fires in the window the guard defends: the batch's offsets are
        # checkpointed (f2 is listed) but its data hasn't been read yet
        # (the per-batch layout check runs before the materialization).
        if "micro-batch" in op_ and not state["deleted"]:
            _os.remove(raw / "f2.jsonl")
            state["deleted"] = True
        return real_guard(spark_, path_, op_)

    monkeypatch.setattr(
        matview_mod, "ensure_plain_zone", delete_f2_then_guard
    )
    with pytest.raises(
        Exception, match="vanished mid-burst|FILE_NOT_EXIST"
    ):
        run_ingest_available_now(
            spark,
            str(raw),
            out,
            ckpt,
            config=PipelineConfig(fixed_clock=CLOCK),
        )
    monkeypatch.setattr(matview_mod, "ensure_plain_zone", real_guard)
    # the failed batch wrote NOTHING: f1's 2 surviving rows are not in
    # the zone (only the 0-row schema seed is), so a retry cannot dup
    assert spark.read.parquet(out).count() == 0
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))  # restore
    # the restore is the same file: give it back its recorded mtime
    _os.utime(raw / "f2.jsonl", ns=(f2_stat.st_atime_ns, f2_stat.st_mtime_ns))
    for _ in range(2):  # retry twice: idempotent, never duplicates
        run_ingest_available_now(
            spark,
            str(raw),
            out,
            ckpt,
            config=PipelineConfig(fixed_clock=CLOCK),
        )
        assert spark.read.parquet(out).count() == 5


def test_deletion_after_read_tolerated_without_loss(
    spark, tmp_path, monkeypatch
):
    """Round-15 advisor find, the closing half of the vanished-file
    story: the guard's existence probes used to run before any Spark
    job had READ the batch's files, so a file deleted after the probe
    but before the write's actual read was silently tolerated
    (ignoreMissingFiles is forced on) and its rows lost. The batch is
    now materialized into the cache BEFORE the probes -- a file deleted
    after that point still has its rows in the cache, so the guard
    classifies it deleted-after-read (rows survived), the batch commits
    every row, and nothing is lost. This test injects the deletion at
    the guard's file-listing step -- strictly after the materialization
    -- and asserts the burst completes with ALL rows present."""
    import os as _os

    from iot_data_pipeline_spark.streaming import ingest as ingest_mod

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    real_lister = ingest_mod._batch_source_files
    state = {"deleted": False}

    def delete_f2_then_list(spark_, ckpt_, batch_id):
        # runs after the body's cache pass read every source file: the
        # deletion lands in the now-closed probe-vs-read window
        if not state["deleted"]:
            _os.remove(raw / "f2.jsonl")
            state["deleted"] = True
        return real_lister(spark_, ckpt_, batch_id)

    monkeypatch.setattr(
        ingest_mod, "_batch_source_files", delete_f2_then_list
    )
    run_ingest_available_now(
        spark,
        str(raw),
        out,
        ckpt,
        config=PipelineConfig(fixed_clock=CLOCK),
    )
    assert state["deleted"]  # the injection actually fired
    # no loss and no failure: f2's rows were read before the deletion,
    # so the batch committed all 5 rows exactly once
    assert spark.read.parquet(out).count() == 5


def test_atomic_publish_landing_mid_burst_fails_loud(
    spark, tmp_path, monkeypatch
):
    """Round-14 probe (the streaming-sink x pointer-zone combination
    the round-13 waves did not sweep): ``start_sensor_ingest`` guards
    its output zone at START, but an ``atomic=True`` publish landing
    on the same zone MID-burst creates the ``_current`` pointer after
    that check -- from that moment every plain append lands at the
    zone root where pointer-resolving readers never look (silently
    invisible rows, measured). The guard now re-runs per micro-batch,
    BEFORE any write: the first batch after the publish fails loud and
    commits nothing."""
    from iot_data_pipeline_spark import pipeline as pipeline_mod
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    import time

    time.sleep(1.1)
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    real_transform = pipeline_mod.transform_sensor
    state = {"published": False}

    def publish_then_transform(df, config, dim=None):
        # fires on batch 0's row-bearing frame: the atomic publish
        # lands deterministically between batch 0 (f1) and batch 1 (f2)
        if not state["published"] and df.limit(1).count() > 0:
            state["published"] = True
            write_parquet(
                df.sparkSession.createDataFrame([(1,)], "id long"),
                out,
                atomic=True,
            )
        return real_transform(df, config, dim)

    monkeypatch.setattr(pipeline_mod, "transform_sensor", publish_then_transform)
    with pytest.raises(Exception, match="atomically-published"):
        run_ingest_available_now(
            spark,
            str(raw),
            out,
            ckpt,
            config=PipelineConfig(fixed_clock=CLOCK),
            max_files_per_trigger=1,
        )
    # batch 1 never committed and wrote nothing invisible: the zone
    # serves exactly the published snapshot
    from iot_data_pipeline_spark.sources.matview import resolve_snapshot_dir

    snap = resolve_snapshot_dir(spark, out)
    assert snap is not None
    assert [r["id"] for r in spark.read.parquet(snap).collect()] == [1]
    import os as _os

    assert not _os.path.exists(_os.path.join(ckpt, "commits", "1"))


def test_deleted_after_ingest_is_clean(spark, tmp_path):
    """Deleting an already-processed raw file between bursts is the
    legitimate cleanSource-style tidy-up: the next burst processes new
    arrivals normally and the default replaced-audit stays silent."""
    raw = tmp_path / "raw"
    raw.mkdir()
    _write_file(raw, "f1.jsonl", _records(1, 2, 10.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
    )
    (raw / "f1.jsonl").unlink()
    _write_file(raw, "f2.jsonl", _records(2, 3, 20.0))
    run_ingest_available_now(
        spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
    )
    assert spark.read.parquet(out).count() == 5


def test_mutation_guards_handle_hostile_basenames(spark, tmp_path):
    """Round-13 second-wave find: the checkpoint log records Hadoop's
    MIXED encoding (reserved ASCII escaped, non-ASCII raw), and
    ``Path(String)`` re-escapes the '%', so the replaced-file audit
    silently SKIPPED any mutated file whose name needed escaping and an
    EMPTY hostile-named file would have false-positived the vanished
    guard. Both now resolve log URIs via decode + multi-arg URI."""
    import time

    from iot_data_pipeline_spark.streaming.ingest import (
        detect_replaced_source_files,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    hostile = "data file ü+x.jsonl"
    _write_file(raw, hostile, _records(1, 2, 10.0))
    (raw / "empty ü.jsonl").write_text("")  # 0 rows, exists: never "lost"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
    )
    assert spark.read.parquet(out).count() == 2
    assert detect_replaced_source_files(spark, ckpt) == []
    time.sleep(1.1)
    _write_file(raw, hostile, _records(1, 5, 20.0))
    replaced = detect_replaced_source_files(spark, ckpt)
    assert len(replaced) == 1 and replaced[0].endswith("x.jsonl")
    with pytest.raises(RuntimeError, match="REPLACED"):
        run_ingest_available_now(
            spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
        )


def test_vanished_guard_covers_compaction_batches(spark, tmp_path):
    """Round-13 second-wave find: every compactInterval-th source-log
    entry (default 10) is written as `<id>.compact` carrying the WHOLE
    history, so the plain-name lookup returned [] for exactly those
    batches and the vanished-file guard silently skipped them. The
    compact fallback filters entries by their own batchId."""
    from iot_data_pipeline_spark.streaming.ingest import _batch_source_files

    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(12):
        _write_file(raw, f"f{i:02d}.jsonl", _records(i, 1, 10.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark,
        str(raw),
        out,
        ckpt,
        config=PipelineConfig(fixed_clock=CLOCK),
        max_files_per_trigger=1,
    )
    assert spark.read.parquet(out).count() == 12
    import os as _os

    logs = _os.listdir(_os.path.join(ckpt, "sources", "0"))
    assert "9.compact" in logs  # the construction actually compacts
    per_batch = [_batch_source_files(spark, ckpt, b) for b in range(12)]
    # every batch resolves exactly one file, including the compacted one
    assert all(len(p) == 1 for p in per_batch), per_batch
    # and the union is exactly the 12 inputs, no history bleed-through
    names = sorted(p[0].rsplit("/", 1)[-1] for p in per_batch)
    assert names == sorted(f"f{i:02d}.jsonl" for i in range(12))


def test_replaced_audit_reads_only_latest_compact_and_tail(spark, tmp_path):
    """Scale shape of the audit (round 13): a `.compact` entry carries
    the entire history, so the audit reads only the latest compact plus
    newer plain entries -- O(compactInterval) files per burst, not
    O(total batches ever) -- and still sees replacements recorded
    BEFORE the compaction."""
    import time

    from iot_data_pipeline_spark.streaming.ingest import (
        detect_replaced_source_files,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(12):  # crosses the default compactInterval of 10
        _write_file(raw, f"f{i:02d}.jsonl", _records(i, 1, 10.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark,
        str(raw),
        out,
        ckpt,
        config=PipelineConfig(fixed_clock=CLOCK),
        max_files_per_trigger=1,
    )
    assert detect_replaced_source_files(spark, ckpt) == []
    time.sleep(1.1)
    # f00 was recorded in a batch BEFORE the compaction point: its entry
    # now lives only inside 9.compact -- the audit must still see it
    _write_file(raw, "f00.jsonl", _records(0, 3, 50.0))
    replaced = detect_replaced_source_files(spark, ckpt)
    assert [r.rsplit("/", 1)[-1] for r in replaced] == ["f00.jsonl"]


def test_replaced_audit_resolves_no_recorded_path(spark, tmp_path, monkeypatch):
    """The audit lists each recorded directory once through pyarrow.fs
    and compares mtimes in Python: after a 12-file burst it resolves no
    recorded file to a Hadoop path (12 before, about 3 Py4J calls each),
    and still sees a replacement."""
    import time

    from iot_data_pipeline_spark.streaming import ingest as ingest_mod

    raw = tmp_path / "raw"
    raw.mkdir()
    for i in range(12):
        _write_file(raw, f"f{i:02d}.jsonl", _records(i, 1, 10.0))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_ingest_available_now(
        spark, str(raw), out, ckpt, config=PipelineConfig(fixed_clock=CLOCK)
    )
    resolved = []
    real_resolve = ingest_mod._log_uri_to_path

    def resolve(jvm, uri):
        resolved.append(uri)
        return real_resolve(jvm, uri)

    monkeypatch.setattr(ingest_mod, "_log_uri_to_path", resolve)
    assert ingest_mod.detect_replaced_source_files(spark, ckpt) == []
    assert resolved == []
    time.sleep(1.1)
    _write_file(raw, "f03.jsonl", _records(3, 2, 50.0))
    assert ingest_mod.detect_replaced_source_files(spark, ckpt) == [
        f"file://{raw}/f03.jsonl"
    ]
    assert resolved == []


def test_replaced_audit_fails_loud_on_unlistable_scheme():
    """A recorded directory pyarrow.fs cannot open fails the audit and
    names the scheme; it is never skipped as if nothing were replaced."""
    from iot_data_pipeline_spark.streaming.ingest import _list_log_dir

    with pytest.raises(NotImplementedError, match="viewfs://"):
        _list_log_dir("viewfs://cluster/raw")


# ------------------------------------------------- replay of a crashed batch


@pytest.mark.parametrize("fault_after", ["zone", "dead_letter"])
def test_replayed_batch_writes_each_row_once(
    spark, raw_dir, tmp_path, monkeypatch, fault_after
):
    """A crash after a micro-batch's write but before its checkpoint
    commit makes the restart replay the batch. Both channels are written
    with dynamic partition overwrite, so the replay replaces the batch's
    own source_file= partitions: every row lands exactly once. With
    appends the zone held each replayed row twice."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    target = out if fault_after == "zone" else f"{out}/_dead_letter"
    real_parquet = DataFrameWriter.parquet
    fired = []

    def parquet_then_crash(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if path == target and not fired:
            fired.append(path)
            raise RuntimeError(f"injected fault after the {fault_after} write")

    def drain():
        run_ingest_available_now(
            spark, str(raw_dir), out, ckpt,
            config=PipelineConfig(fixed_clock=CLOCK), timeout_s=120,
        )

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_then_crash)
    with pytest.raises(StreamingQueryException, match="injected fault"):
        drain()
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
    assert fired and not (tmp_path / "ckpt" / "commits" / "0").exists()
    drain()  # restart on the same checkpoint replays batch 0

    zone = spark.read.parquet(out)
    assert zone.count() == 5  # 3 (a) + 2 (b)
    assert zone.dropDuplicates(["device_id", "timestamp", "humidity"]).count() == 5
    dead = spark.read.parquet(f"{out}/_dead_letter")
    assert [r["raw_line"] for r in dead.collect()] == ["this is a bad line"]


# ------------------------------------------------------------ the dim contract


def test_file_dim_reread_each_batch_of_one_stream(spark, tmp_path):
    """A dim that reads files is read again in every micro-batch: one
    long-lived stream enriches a batch after a dim update with the new
    value. (The dim is rewritten in place at the same size, because a
    file frame's listing is fixed when it is created.)"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_data_pipeline_spark.streaming.ingest import start_sensor_ingest

    raw = tmp_path / "raw"
    raw.mkdir()
    dim_file = tmp_path / "dim" / "dim.parquet"
    dim_file.parent.mkdir()

    def write_dim(location: str) -> int:
        pq.write_table(
            pa.table({"device_id": ["device-1"], "location_id": [location]}),
            str(dim_file),
        )
        return os.path.getsize(dim_file)

    old_size = write_dim("loc-OLD")
    dim = spark.read.parquet(str(dim_file.parent))
    out = tmp_path / "out"
    q = start_sensor_ingest(
        spark, str(raw), str(out), str(tmp_path / "ckpt"),
        PipelineConfig(fixed_clock=CLOCK), dim_location=dim,
        available_now=False,
    )
    try:
        _write_file(raw, "f1.jsonl", _records(1, 1, 1.0))
        q.processAllAvailable()
        assert write_dim("loc-NEW") == old_size
        _write_file(raw, "f2.jsonl", _records(1, 1, 2.0))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["source_file"]: r["location_id"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {"f1.jsonl": "loc-OLD", "f2.jsonl": "loc-NEW"}


def test_in_memory_dim_evaluated_once_per_stream(spark, raw_dir, tmp_path):
    """A createDataFrame dim cannot change, so the stream snapshots it
    into a local relation at start: only the first of three
    micro-batches evaluates the dim's Python RDD
    (counted by an accumulator its rows pass through); before, every
    batch's broadcast rebuilt it in PySpark workers."""
    _write_file(raw_dir, "c.jsonl", _records(3, 4, 30.0))
    sc = spark.sparkContext
    evaluated = sc.accumulator(0)

    def count_row(row):
        evaluated.add(1)
        return row

    rows = [(f"device-{i}", f"loc-{i}") for i in (1, 2, 3)]
    dim = spark.createDataFrame(
        sc.parallelize(rows, 1).map(count_row),
        "device_id string, location_id string",
    )
    run_ingest_available_now(
        spark, str(raw_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        config=PipelineConfig(fixed_clock=CLOCK), timeout_s=120,
        dim_location=dim, max_files_per_trigger=1,
    )
    enriched = spark.read.parquet(str(tmp_path / "out"))
    assert enriched.filter(F.col("location_id").isNotNull()).count() == 9
    assert evaluated.value == len(rows)


def test_in_memory_dim_stream_pins_nothing(spark, raw_dir, tmp_path):
    """A running long-lived stream holds its in-memory dim as a local
    relation: it adds no persistent RDD and starts no thread to release
    one."""
    import threading

    from iot_data_pipeline_spark.streaming.ingest import start_sensor_ingest

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = n_persisted()
    dim = spark.createDataFrame(
        [("device-1", "loc-1")], "device_id string, location_id string"
    )
    out = tmp_path / "out"
    q = start_sensor_ingest(
        spark, str(raw_dir), str(out), str(tmp_path / "ckpt"),
        PipelineConfig(fixed_clock=CLOCK), dim_location=dim,
        available_now=False,
    )
    try:
        q.processAllAvailable()
        assert n_persisted() == base
        assert not [
            t.name for t in threading.enumerate()
            if t.name.startswith("unpersist-dim-")
        ]
    finally:
        q.stop()
    got = {
        r["device_id"]: r["location_id"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == {"device-1": "loc-1", "device-2": None}


def test_pinned_dim_released_after_drain(spark, raw_dir, tmp_path):
    """The dim the stream persisted is unpersisted once the drain
    returns; a dim the caller cached is the caller's and stays cached."""

    def cached(df) -> bool:
        level = df.storageLevel
        return level.useMemory or level.useDisk

    def drain(dim, name):
        run_ingest_available_now(
            spark, str(raw_dir), str(tmp_path / name / "out"),
            str(tmp_path / name / "ckpt"),
            config=PipelineConfig(fixed_clock=CLOCK), timeout_s=120,
            dim_location=dim,
        )

    schema = "device_id string, location_id string"
    pinned = spark.createDataFrame([("device-1", "loc-1")], schema)
    drain(pinned, "pinned")
    assert not cached(pinned)

    owned = spark.createDataFrame([("device-2", "loc-2")], schema).cache()
    try:
        drain(owned, "owned")
        assert cached(owned)
    finally:
        owned.unpersist()
