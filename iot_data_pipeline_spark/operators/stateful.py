"""Arbitrary stateful stream processing (SURVEY.md B43): device last-state.

The reference keeps no state at all (every file is processed in
isolation); the generalized engine tracks per-device latest readings
across micro-batches -- the canonical IoT "device shadow".

Two implementations with identical semantics:

- ``last_state_batch``: the batch/backfill formulation -- max_by over the
  full history. One shuffle on the key, map-side partial aggregation.
- ``apply_last_state_stream``: the streaming formulation with
  ``applyInPandasWithState`` (``mapGroupsWithState``) -- state is one row
  per device, updated per micro-batch; emits the devices whose state
  changed in that batch.

Streaming-vs-batch parity is asserted in tests (same contract as Q14/Q21:
the stream must converge to the batch answer over the same inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Output/state schema shared by both formulations.
STATE_SCHEMA = (
    "device_id string, last_ts timestamp, last_temperature double, n_readings long"
)


def last_state_batch(df: DataFrame) -> DataFrame:
    """Latest reading per device over a bounded history.

    ``max_by`` with a (ts, temperature) struct breaks ties exactly like the
    streaming fold below (last write wins on equal ts); one hash aggregate,
    no window -- at 100 TB this is a single shuffle of one row per device
    after partial aggregation.
    """
    return df.groupBy("device_id").agg(
        F.max("timestamp").alias("last_ts"),
        F.max_by(
            "temperature", F.struct(F.col("timestamp"), F.col("temperature"))
        ).alias("last_temperature"),
        F.count(F.lit(1)).alias("n_readings"),
    )


def _update_device_state(key, pdfs, state: GroupState):
    """Per-device state fold: keep max-ts reading and a running count."""
    import pandas as pd

    (device_id,) = key
    if state.exists:
        last_ts, last_temp, n = state.get
    else:
        last_ts, last_temp, n = None, None, 0
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        batch_best = pdf.sort_values(
            ["timestamp", "temperature"], na_position="first"
        ).iloc[-1]
        # pandas surfaces SQL NULL as NaN/NaT; fold and emit None so the
        # state column stays NULL (NaN is a *value* to Spark, not NULL).
        ts = None if pd.isna(batch_best["timestamp"]) else batch_best["timestamp"]
        temp = (
            None
            if pd.isna(batch_best["temperature"])
            else float(batch_best["temperature"])
        )
        if ts is None:
            continue  # batch held only null-timestamp readings: unrankable
        if last_ts is None or ts > last_ts or (ts == last_ts and _gt(temp, last_temp)):
            last_ts, last_temp = ts, temp
    state.update((last_ts, last_temp, n))
    yield pd.DataFrame(
        {
            "device_id": [device_id],
            "last_ts": [last_ts],
            "last_temperature": [last_temp],
            "n_readings": [n],
        }
    )


def _gt(a, b) -> bool:
    if b is None:
        return a is not None
    return a is not None and a > b


def apply_last_state_stream(stream: DataFrame) -> DataFrame:
    """Streaming device-shadow: one state row per device, emitted on change.

    State is tiny and bounded (device count, not reading count) -- the
    shape that scales: a 1B-reading/day stream with 1M devices holds 1M
    state rows, partitioned by the groupBy key across executors.
    """
    return stream.groupBy("device_id").applyInPandasWithState(
        _update_device_state,
        outputStructType=STATE_SCHEMA,
        stateStructType="last_ts timestamp, last_temperature double, n_readings long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
