"""Round-robin a small driver frame across every core (round-15).

Several query families feed a one-task scan (at bench scale each base
table is a single parquet row group -- the atomic read unit, so a
scan-split floor like ``spark.sql.files.minPartitionNum`` cannot divide
it; measured as a no-op) into per-row-expensive map work: media
synth/decode kernels, shingle/n-gram explodes, hash fingerprints. That
serializes the whole map stage on one core. ``spread_rows`` moves the
narrow pre-explode rows exactly once (guide section 3.3: explode after,
not before, the move); ``defaultParallelism`` (= cores locally,
executors x cores on a cluster) keeps the spread scale-adaptive, and on
a real many-split scan it is a cheap no-op floor relative to the work
it precedes.

Applied per query where the map stage measurably dominates -- not in
the reader, where it would tax every cheap aggregate with an exchange
and perturb pinned plan shapes.

The under-parallelism guard is what makes this a FLOOR and not a scale
hazard: ``repartition(n)`` is a full shuffle into exactly n partitions,
so applied unconditionally it would funnel a many-thousand-split corpus
scan down to cores-many partitions and move every payload byte. The
spread therefore no-ops whenever the input already has at least
``defaultParallelism`` partitions -- i.e. everywhere except the
under-split small-scan case it exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_rows(df: DataFrame) -> DataFrame:
    n = df.sparkSession.sparkContext.defaultParallelism
    # Partition probe via the frame's own (cached, lazily reused)
    # QueryExecution: ``df.rdd`` compiled a SEPARATE to-Python-RDD plan of
    # the whole upstream subtree on every call -- pure driver overhead,
    # paid even when the spread no-ops (round-15 ADVICE). Counting the
    # partitions of a plan with an exchange or a subquery would RUN its
    # upstream stages (AQE materializes them to plan the rest), so such a
    # plan is spread without a probe; a false match only costs a shuffle.
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    if any(tag in plan for tag in ("Exchange", "Subquery", "AdaptiveSparkPlan")):
        return df.repartition(n)
    if qe.toRdd().getNumPartitions() >= n:
        return df
    return df.repartition(n)
