"""Distributed global prefix scans (running sums, ranks, fill-forward).

``SUM(x) OVER (ORDER BY k)`` with no PARTITION BY collapses to a single
partition in Spark's window exec -- the one window shape that does not
scale. ``global_scan`` and ``global_fill_forward`` compute the identical
result with the classic two-phase scan:

1. range-repartition by the order key (so partition i holds keys < keys
   of partition i+1), local cumulative sum inside each partition;
2. reduce ONE row per partition (its total), exclusive-prefix-sum those
   P rows with a window over the tiny totals frame (one task orders P
   rows -- P = partition count, never data-sized), broadcast the offsets
   back and add.

Data moves once (the range shuffle); the cross-partition bookkeeping is
P rows, not N, and since round-16 it stays in-plan -- no driver collect
and no createDataFrame re-ship (each was a per-call driver
synchronization point, and the Py4J local-relation serde bring-up cost
~3 s on whichever query ran a prefix operator first). This is how a
100 TB sweep-line / running-balance query stays parallel.

The range-partitioned frame feeds both the per-partition totals and the
rows the offsets are added to, so both sides of that join must read ONE
partitioning. Each operator takes a ``localCheckpoint`` of it: building
the checkpoint's RDD fixes the range bounds and ``spark_partition_id()``
once, both sides read the same blocks, and a lost block fails the query
loudly instead of recomputing bounds that could differ. The blocks are
freed with the frame, so nothing is registered for a release sweep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_fill_forward(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str = "filled",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = last non-null ``value_col`` at or before this
    row in the total order (``LAST_VALUE(x IGNORE NULLS) OVER (ORDER BY
    ...)``), without a single-partition window.

    Same two-phase shape as :func:`global_scan`: range-partition on
    the order key, fill forward locally, then carry each partition's final
    non-null value across the boundary -- the P boundary values are
    forward-filled in-plan over the tiny bounds frame and broadcast back.
    This is the distributed sweep-line primitive behind global as-of
    joins and gap-filling.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *[F.col(c) for c in order_cols])
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parted.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lf", F.last(value_col, ignorenulls=True).over(w_local)
    )
    local = local.localCheckpoint(eager=False)  # one partitioning, module doc

    # each partition's final fill value = _lf on its last row in order;
    # the carry flowing INTO partition p = last non-null boundary among
    # partitions before p. Computed IN-PLAN over the P-row bounds frame
    # (round-16, same shape as global_scan's offsets): one task
    # orders P rows -- no driver collect, no createDataFrame round trip.
    bounds = local.groupBy("_pid").agg(
        F.max_by("_lf", F.struct(*[F.col(c) for c in order_cols])).alias("_b")
    )
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    off_df = bounds.select(
        "_pid", F.last("_b", ignorenulls=True).over(w_prev).alias("_carry")
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.coalesce(F.col("_lf"), F.col("_carry")))
        .drop("_pid", "_lf", "_carry")
    )


def _ntile(k: int) -> Column:
    """NTILE(k) of the ``row_number`` column among ``_total`` rows: the
    first ``_total % k`` tiles hold one row more than the rest. Integral
    ``div`` throughout -- ``/`` is DOUBLE and loses exactness above
    2^53 rows."""
    rn = "`row_number`"
    base = f"(_total div {k})"
    rem = f"(_total % {k})"
    big = f"({base} + 1)"
    small = f"greatest({base}, 1)"
    return F.expr(
        f"CASE WHEN {rn} <= {big} * {rem} THEN ({rn} + {big} - 1) div {big} "
        f"ELSE {rem} + ({rn} - {big} * {rem} + {small} - 1) div {small} END"
    ).cast("int")


def global_scan(
    df: DataFrame,
    order_cols: list[str],
    ascending: list[bool] | None = None,
    sum_cols: dict[str, str] | None = None,
    ranks: bool = False,
    ntile: int | None = None,
    num_partitions: int | None = None,
    total_cols: dict[str, str] | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """One-pass combined two-phase scan: running sums and/or ranking
    functions over one order, for the price of a single range shuffle +
    one local window pass + P broadcast offsets.

    ``sum_cols`` maps output name -> value column; each output is the sum
    of that column over rows up to and including this one, so
    ``order_cols`` must be a total order (include a tiebreak key).
    ``ranks`` appends ``rank``, ``dense_rank`` and ``row_number``;
    ``ntile`` appends ``ntile`` (and ``row_number``). These rest on a
    property of range partitioning: equal keys are never split across
    partitions (the partitioner binary-searches range bounds), so local
    ranks are exact within each partition and the global value is local
    + a per-partition offset (rows before, or distinct keys before for
    dense_rank). NTILE is pure arithmetic on (row_number, total).

    ``tiebreak_cols`` (ascending) extend the ordering for ``row_number``
    and ``ntile`` ONLY, through a second local window: partitioning and
    rank/dense_rank stay on ``order_cols``, so ties never split, and
    because each partition holds complete tie-groups the tie-broken
    row_number's per-partition offset is the same rows-before count.

    ``total_cols`` (output name -> ``sum_cols`` key) attaches each GRAND
    total as a broadcast constant column: the two-phase scan already
    reduces the per-partition totals, so callers needing "share of
    total" get it for free instead of re-aggregating the input (which
    would re-scan the whole upstream plan).
    """
    asc = ascending or [True] * len(order_cols)
    cols = [F.col(c) if a else F.col(c).desc() for c, a in zip(order_cols, asc)]
    sums = sum_cols or {}
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *cols)
    w = Window.partitionBy("_pid").orderBy(*cols)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = parted.withColumn("_pid", F.spark_partition_id())
    for out, src in sums.items():
        local = local.withColumn(f"_ls_{out}", F.sum(src).over(w_cum))
    if ranks or ntile is not None:
        w_full = Window.partitionBy("_pid").orderBy(
            *cols, *[F.col(c) for c in tiebreak_cols or []]
        )
        local = (
            local.withColumn("_lrk", F.rank().over(w))
            .withColumn("_ldr", F.dense_rank().over(w))
            .withColumn("_lrn", F.row_number().over(w_full))
        )
    local = local.localCheckpoint(eager=False)  # one partitioning, module doc

    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.sum(src).alias(f"_t_{out}") for out, src in sums.items()]
    # non-null counts feed the NULL-carry rule, SQL's sum-ignores-nulls
    # contract: a row before ANY non-null globally keeps NULL, but a row
    # before any LOCAL non-null still takes the carried offset when an
    # earlier partition held one
    aggs += [F.count(src).alias(f"_nn_{out}") for out, src in sums.items()]
    if ranks or ntile is not None:
        aggs.append(
            F.countDistinct(F.struct(*[F.col(c) for c in order_cols])).alias("_d")
        )
    stats_df = local.groupBy("_pid").agg(*aggs)

    # P-row offsets computed IN-PLAN (round-16): every offset is an
    # exclusive prefix sum over the per-partition stats frame and every
    # grand total the same sum over ALL partitions -- one task orders P
    # rows (P = partition count, never data-sized); no driver collect,
    # no createDataFrame round trip.
    # per-column integrality: integral value columns (token counts, row
    # counts) ride as exact LONG offsets/totals; floating
    # columns stay double throughout -- so the output schema depends only
    # on the input dtype, never on whether a particular total happens to
    # be integral-valued.
    dtypes = dict(df.dtypes)
    integral = {
        out: dtypes[src] in ("tinyint", "smallint", "int", "bigint")
        for out, src in sums.items()
    }
    w_prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum("_n").over(w_prev), F.lit(0)).cast("long").alias("_roff"),
        F.sum("_n").over(w_all).cast("long").alias("_total"),
    ]
    if ranks or ntile is not None:
        off_cols.append(
            F.coalesce(F.sum("_d").over(w_prev), F.lit(0)).cast("long").alias("_doff")
        )
    else:
        off_cols.append(F.lit(0).cast("long").alias("_doff"))
    for out in sums:
        t = "long" if integral[out] else "double"
        off_cols += [
            F.coalesce(F.sum(f"_t_{out}").over(w_prev).cast(t), F.lit(0).cast(t)).alias(
                f"_off_{out}"
            ),
            F.coalesce(F.sum(f"_nn_{out}").over(w_prev), F.lit(0))
            .cast("long")
            .alias(f"_pn_{out}"),
            F.coalesce(F.sum(f"_t_{out}").over(w_all).cast(t), F.lit(0).cast(t)).alias(
                f"_tot_{out}"
            ),
        ]
    off_df = stats_df.select(*off_cols)
    out_df = local.join(F.broadcast(off_df), "_pid")
    for out in sums:
        cum = (
            F.when(
                F.col(f"_ls_{out}").isNotNull(),
                F.col(f"_ls_{out}") + F.col(f"_off_{out}"),
            )
            .when(F.col(f"_pn_{out}") > 0, F.col(f"_off_{out}"))
            .otherwise(F.lit(None))
        )
        out_df = out_df.withColumn(out, cum).drop(
            f"_ls_{out}", f"_off_{out}", f"_pn_{out}"
        )
    if ranks or ntile is not None:
        out_df = (
            out_df.withColumn("rank", (F.col("_lrk") + F.col("_roff")).cast("int"))
            .withColumn("dense_rank", (F.col("_ldr") + F.col("_doff")).cast("int"))
            .withColumn("row_number", (F.col("_lrn") + F.col("_roff")).cast("int"))
            .drop("_lrk", "_ldr", "_lrn")
        )
        if ntile is not None:
            out_df = out_df.withColumn("ntile", _ntile(ntile))
        if not ranks:
            out_df = out_df.drop("rank", "dense_rank")
    for out, key in (total_cols or {}).items():
        if key not in sums:
            raise ValueError(f"total_cols key {key!r} not in sum_cols")
        # the grand total rides out of the P-row offsets frame as the
        # broadcast _tot column; its type follows the value column's
        # dtype (LONG for integral inputs, DOUBLE otherwise), never the
        # value -- same schema contract as the old driver-side literal.
        out_df = out_df.withColumn(out, F.col(f"_tot_{key}"))
    return out_df.drop(
        "_pid", "_roff", "_doff", "_total", *[f"_tot_{o}" for o in sums]
    )
