"""Streaming stateful-op test (B43): applyInPandasWithState device shadow
must converge to the batch last-state answer over the same inputs, with
state carried across micro-batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.stateful import (
    apply_last_state_stream,
    last_state_batch,
)
from iot_data_pipeline_spark.sources.readers import SENSOR_SCHEMA


def _write(d, name, recs):
    with open(d / name, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


_VARIANTS = [(apply_last_state_stream, "device_state")]


@pytest.mark.parametrize(
    "apply_stream, sink",
    _VARIANTS,
    ids=["applyInPandasWithState"],
)
def test_stream_state_matches_batch(spark, tmp_path, apply_stream, sink):
    raw = tmp_path / "raw"
    raw.mkdir()
    recs = [
        {"device_id": "a", "temperature": 1.0, "timestamp": "2026-01-01T10:00:00Z"},
        {"device_id": "a", "temperature": 3.0, "timestamp": "2026-01-01T12:00:00Z"},
        {"device_id": "b", "temperature": 9.0, "timestamp": "2026-01-01T10:00:00Z"},
        {"device_id": "a", "temperature": 2.0, "timestamp": "2026-01-01T11:00:00Z"},
        {"device_id": "b", "temperature": 8.0, "timestamp": "2026-01-01T13:00:00Z"},
    ]
    # two files -> with maxFilesPerTrigger=1, two micro-batches: the final
    # state for 'a' and 'b' must fold ACROSS batches, not per batch.
    _write(raw, "f1.jsonl", recs[:3])
    _write(raw, "f2.jsonl", recs[3:])

    stream = (
        spark.readStream.schema(SENSOR_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(raw))
        .select("device_id", "timestamp", "temperature")
    )
    q = (
        apply_stream(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
        raise TimeoutError("stateful stream did not drain")

    # memory sink in update mode appends one row per state update; the
    # last update per device is the final state.
    updates = spark.sql(
        f"""
        SELECT device_id, last_ts, last_temperature, n_readings FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY device_id ORDER BY n_readings DESC) AS rn
          FROM {sink}) WHERE rn = 1
        """
    ).collect()
    got = {r["device_id"]: r for r in updates}

    batch = spark.createDataFrame(
        [(r["device_id"], r["timestamp"], r["temperature"]) for r in recs],
        "device_id string, timestamp string, temperature double",
    ).selectExpr(
        "device_id", "to_timestamp(timestamp) AS timestamp", "temperature"
    )
    want = {r["device_id"]: r for r in last_state_batch(batch).collect()}

    assert set(got) == set(want)
    for k in want:
        assert got[k]["last_ts"] == want[k]["last_ts"]
        assert got[k]["last_temperature"] == want[k]["last_temperature"]
        assert got[k]["n_readings"] == want[k]["n_readings"]


def test_state_survives_checkpoint_restart(spark, tmp_path):
    """Device-shadow state must recover from the checkpoint on restart:
    a second run over NEW files only must fold on top of the first run's
    state (counts continue, not reset)."""
    raw = tmp_path / "raw"
    raw.mkdir()
    ckpt = str(tmp_path / "ckpt")
    updates_zone = str(tmp_path / "updates")

    def run_drain():
        stream = (
            spark.readStream.schema(SENSOR_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(raw))
            .select("device_id", "timestamp", "temperature")
        )

        # memory sink cannot recover from a checkpoint; foreachBatch can.
        def emit(batch_df, batch_id):
            batch_df.write.mode("append").parquet(updates_zone)

        q = (
            apply_last_state_stream(stream)
            .writeStream.foreachBatch(emit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain")

    _write(raw, "r1.jsonl", [
        {"device_id": "a", "temperature": 1.0, "timestamp": "2026-01-01T10:00:00Z"},
        {"device_id": "a", "temperature": 2.0, "timestamp": "2026-01-01T11:00:00Z"},
    ])
    run_drain()

    _write(raw, "r2.jsonl", [
        {"device_id": "a", "temperature": 9.0, "timestamp": "2026-01-01T09:00:00Z"},
    ])
    run_drain()

    # run2 saw ONE new record (earlier ts), but recovered state must show
    # all 3 readings with the run-1 maximum timestamp still winning.
    rows = (
        spark.read.parquet(updates_zone)
        .orderBy(F.desc("n_readings"))
        .limit(1)
        .collect()
    )
    assert rows, "no state emitted on restart"
    r = rows[0]
    assert r["n_readings"] == 3
    assert r["last_temperature"] == 2.0


def test_rocksdb_state_store_provider_parity(spark, tmp_path):
    """The RocksDB state store -- the at-scale streaming state backend
    (bounded heap, changelog checkpointing on a real cluster) -- must
    produce the same final device states as the default HDFS-backed
    provider for the identical stateful stream. This exercises the
    bundled rocksdbjni path: provider choice is pure configuration,
    so any declared stateful query can switch backends untouched."""
    raw = tmp_path / "raw"
    raw.mkdir()
    recs = [
        {"device_id": d, "temperature": float(i), "timestamp": f"2026-01-01T{10 + i % 10}:0{i % 6}:00Z"}
        for i, d in enumerate("abcab" * 6)
    ]
    _write(raw, "f1.jsonl", recs[: len(recs) // 2])
    _write(raw, "f2.jsonl", recs[len(recs) // 2 :])

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)

    def run(provider: str | None, sink: str):
        if provider:
            spark.conf.set(provider_key, provider)
        stream = (
            spark.readStream.schema(SENSOR_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(str(raw))
            .select("device_id", "timestamp", "temperature")
        )
        q = (
            apply_last_state_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{sink}"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
            if q.isActive:
                q.stop()
                raise TimeoutError("stateful stream did not drain")
        finally:
            if prior is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prior)
        return {
            r["device_id"]: (r["last_ts"], r["last_temperature"], r["n_readings"])
            for r in spark.sql(
                f"""
                SELECT device_id, last_ts, last_temperature, n_readings FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY device_id ORDER BY n_readings DESC) AS rn
                  FROM {sink}) WHERE rn = 1
                """
            ).collect()
        }

    default = run(None, "rocks_parity_default")
    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        "rocks_parity_rocksdb",
    )
    assert rocks == default
    assert len(rocks) == 3  # all three devices surfaced a final state


def test_q34_probe_leaves_shared_session_alone(spark, sf_dir, monkeypatch):
    """q34 fixes its state-store count (2) on a cloned session: no
    ``RuntimeConfig.set`` reaches the shared session's conf while it
    runs, its memory sink's temp view is not left on the shared session,
    and the checkpoint still records 2 shuffle partitions."""
    import os

    from pyspark.sql.conf import RuntimeConfig

    from iot_data_pipeline_spark.queries import ingest_q
    from iot_data_pipeline_spark.queries.registry import REGISTRY

    shared = spark.conf._jconf
    shared_keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        if self._jconf == shared:
            shared_keys.append(key)
        return real_set(self, key, value)

    dirs: list[str] = []
    real_fresh_dir = ingest_q.fresh_dir

    def recording_fresh_dir(kind):
        dirs.append(real_fresh_dir(kind))
        return dirs[-1]

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views_before = temp_views()
    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(ingest_q, "fresh_dir", recording_fresh_dir)
    rows = REGISTRY["q34_stateful_device_state"].fn(spark, sf_dir).collect()

    assert rows
    assert shared_keys == []
    assert temp_views() == views_before
    (checkpoint,) = dirs
    with open(os.path.join(checkpoint, "offsets", "0")) as f:
        assert '"spark.sql.shuffle.partitions":"2"' in f.read()
