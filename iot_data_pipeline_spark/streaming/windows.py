"""Streaming windowed aggregation, watermarks, and stream dedup
(SURVEY.md B38-B42).

Batch/streaming parity contract: each helper applies the *same* grouping
expression the batch queries use (q20/q20b/q21), so the oracle-checked
batch results certify the streaming plans. Watermarks bound state: without
one, a windowed stream accumulates every window forever -- the first thing
that kills a 100 TB streaming job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_value_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window count+sum with
    a watermark. Late rows beyond the watermark are dropped -- the
    streaming realization of the reference's drop-don't-fail posture
    (app/app.py:62-65), applied to time instead of parse errors."""
    win = (
        F.window(ts_col, window)
        if slide is None
        else F.window(ts_col, window, slide)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "total_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming dedup (B42). With ``ts_col``, state is bounded by
    the watermark (``dropDuplicatesWithinWatermark``): a key seen again
    after the watermark passes is treated as new -- the deliberate
    state-size/completeness trade every infinite-stream dedup must make.
    Without ``ts_col``, exact dedup with unbounded state (bounded inputs
    only)."""
    if ts_col is None:
        return stream.dropDuplicates(keys)
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    lookback: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (B37 family): each left-side row pairs
    with right-side rows of the same ``key`` whose timestamp falls in
    ``[left.ts - lookback, left.ts]`` -- the attribution-join shape
    (purchase <- preceding clicks).

    Both sides carry watermarks because a stream-stream join is stateful
    on BOTH inputs: the time bound plus the watermark is what lets Spark
    evict buffered rows instead of holding every event forever. The
    join condition references the time columns directly so the state
    manager can derive the eviction horizon.

    ``how='leftOuter'`` additionally emits each unmatched left row with
    NULL right columns -- but only once the watermark PASSES the row's
    match window (before that, a match could still arrive). Consequence
    for bounded runs (``availableNow``): the outer rows for the newest
    data only emit if a later micro-batch advances the watermark beyond
    them -- the caller must feed trailing watermark-advancing events
    (q177 does it with filtered sentinel rows), exactly the discipline a
    production topic's heartbeat messages provide.
    """
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    return lw.join(
        rw,
        F.expr(
            f"l.{key} = r.{key} AND "
            f"r.{ts_col} >= l.{ts_col} - interval {lookback} AND "
            f"r.{ts_col} <= l.{ts_col}"
        ),
        how,
    )
