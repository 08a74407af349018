"""The temporal join Spark has no built-in for: the as-of join
(SURVEY.md B15; reference has no temporal joins -- this is north-star
surface motivated by the events table). The bucketed range join (B14)
is q08 (``queries/relational.py``), its one implementation.

A composition of public DataFrame ops, so Catalyst still prunes,
pushes down, and (for bounded right sides) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    by: list[str] | None = None,
    direction: str = "backward",
    suffix: str = "_right",
    tolerance=None,
    keep_unmatched: bool = False,
) -> DataFrame:
    """For each left row, attach the single right row closest in time.

    ``direction='backward'`` keeps the latest right row with
    ``right_on <= left_on`` (the "state as of t" lookup); ``'forward'``
    keeps the earliest with ``right_on >= left_on``. ``by`` adds equi-keys
    (e.g. device_id) that become the join's hash keys. ``tolerance``
    (optional) bounds the match window: an expression addable to the on
    column (a number for numeric keys, ``F.expr("INTERVAL 2 HOURS")`` for
    timestamps) -- backward requires ``right_on >= left_on - tolerance``,
    forward ``right_on <= left_on + tolerance`` (pandas merge_asof
    semantics). At scale a tolerance is also what lets the candidate
    pairing become a time-bucket equi-join (the q08 rewrite) instead of
    an open-ended inequality.

    Plan shape: equi-join on ``by`` (hash, broadcastable) or a
    BroadcastNestedLoopJoin when ``by`` is empty, then one window to keep
    rank-1 per left row. At scale you ALWAYS want ``by`` keys: they turn
    the pairing into a hash join and bound each window partition.

    The window formulation (row_number over candidates) is the same one
    the DuckDB oracle runs for q08b -- idiomatic Spark, no custom node.

    Match semantics: by default a left row with NO candidate is dropped
    (inner pairing -- what q08b/q08c gate). ``keep_unmatched=True``
    switches the pairing to a left join, emitting such rows once with
    NULL right columns -- pandas ``merge_asof``'s keep-everything shape.
    Caveat either way: left rows that are FULL duplicates of each other
    fall into one window partition and only one survives the rank -- give
    the left side a unique id column (every caller in this repo joins on
    event-id-bearing frames).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by = by or []

    lcols = [F.col(f"l.{c}").alias(c) for c in left.columns]
    rcols = [
        F.col(f"r.{c}").alias(c if c not in left.columns else f"{c}{suffix}")
        for c in right.columns
        if c not in by
    ]
    l, r = left.alias("l"), right.alias("r")
    cond = F.lit(True)
    for k in by:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    if direction == "backward":
        cond = cond & (F.col(f"r.{right_on}") <= F.col(f"l.{left_on}"))
        if tolerance is not None:
            cond = cond & (
                F.col(f"r.{right_on}") >= F.col(f"l.{left_on}") - tolerance
            )
    else:
        cond = cond & (F.col(f"r.{right_on}") >= F.col(f"l.{left_on}"))
        if tolerance is not None:
            cond = cond & (
                F.col(f"r.{right_on}") <= F.col(f"l.{left_on}") + tolerance
            )

    paired = l.join(r, cond, "left" if keep_unmatched else "inner").select(
        *lcols, *rcols, F.col(f"r.{right_on}").alias("__asof_ts")
    )
    w = Window.partitionBy(*[F.col(c) for c in left.columns]).orderBy(
        F.col("__asof_ts").desc() if direction == "backward" else F.col("__asof_ts").asc()
    )
    return (
        paired.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__asof_ts")
    )
