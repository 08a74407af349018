"""The reference ETL pipeline re-expressed as one declarative Spark job.

Reference semantics being reproduced (SURVEY.md section 2.1, Tier A):

- JSONL scan, line-at-a-time JSON parse, malformed lines logged-and-dropped
  to an error channel (app/app.py:29-45,62-65)  -> PERMISSIVE read + corrupt
  split (sources.readers).
- one ETL body (app/app.py:19-89) -> ``_process_sensor_frame``, which the
  bulk run and every stream micro-batch call alike.
- ``processed_timestamp`` = current UTC time (app/app.py:48) -> injectable
  clock column so tests are deterministic.
- ``temp_fahrenheit = temperature * 9/5 + 32`` only when a numeric
  temperature exists (app/app.py:15-17,51-56) -> NULL-guarded column
  arithmetic; a record with no/non-numeric temperature passes through with
  temp_fahrenheit NULL (the typed reader put non-numeric raw text in the
  corrupt column, preserving "keep raw value" via the dead letter).
- README-declared threshold filter ">10 degC" (README.md:40) and
  device->location_id enrichment (README.md:13,42) -> optional filter stage
  and broadcast left join.
- JSONL out, empty output legal (app/app.py:68-80).

Everything is built-in column expressions -- zero Python UDFs -- so the whole
transform compiles to one WholeStageCodegen span over the scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources.readers import (
    CORRUPT_COL,
    SENSOR_SCHEMA,
    read_jsonl,
    split_cached,
)
from iot_data_pipeline_spark.sources.sinks import (
    write_dead_letter,
    write_jsonl,
)


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the sensor pipeline; defaults = reference behavior."""

    temperature_threshold: float | None = None  # README.md:40 declares 10.0
    fixed_clock: str | None = None  # ISO-8601; None -> current_timestamp()
    dead_letter_path: str | None = None


def transform_sensor(
    df: DataFrame,
    config: PipelineConfig = PipelineConfig(),
    dim_location: DataFrame | None = None,
) -> DataFrame:
    """Core record transform (reference app/app.py:33-60 as column exprs)."""
    clock = (
        F.to_timestamp(F.lit(config.fixed_clock))
        if config.fixed_clock
        else F.current_timestamp()
    )
    out = df.withColumn("processed_timestamp", clock).withColumn(
        "temp_fahrenheit",
        F.when(
            F.col("temperature").isNotNull(),
            F.round(F.col("temperature") * 9 / 5 + 32, 2),
        ),
    )
    if config.temperature_threshold is not None:
        out = out.filter(F.col("temperature") > F.lit(config.temperature_threshold))
    if dim_location is not None:
        # Dim tables are small by construction (<=100 rows, FIXTURES.md
        # section 2): broadcast so the enrichment join never shuffles the
        # fact stream -- the 100 TB-safe plan for a lookup join.
        out = out.join(F.broadcast(dim_location), "device_id", "left")
    return out


#: The per-file routing column a stream micro-batch carries on both channels.
ROUTE_COL = "source_file"


def _process_sensor_frame(
    parsed: DataFrame,
    config: PipelineConfig,
    dim_location: DataFrame | None,
    write_good: Callable[[DataFrame], None],
    write_bad: Callable[[DataFrame], None] | None = None,
    check: Callable[[set[str]], None] | None = None,
    bad_seeded: bool = False,
) -> tuple[int, int, int]:
    """The sensor ETL body over one PERMISSIVE-parsed frame; returns
    (rows in, good rows written, corrupt rows).

    The frame is first packed to ``ceil(input bytes / openCostInBytes)``
    partitions when that is fewer than its scan has: Spark splits any
    input smaller than ``cores x 128 MB`` into one partition per core,
    and each task pays a fixed cost (it deserializes the whole Hadoop
    configuration) that dwarfs reading a few small files. The input
    bytes are the frame's own plan statistics (the file sizes, for a
    file relation), and ``spark.sql.files.openCostInBytes`` is Spark's
    own estimate of what one file costs to open. Packing never adds
    partitions, so a large input or a backlog keeps its split; a
    ``minPartitionNum`` of 1 would also collapse a large input onto
    fewer tasks than cores, and ``coalesce(1)`` would run a whole
    backlog in one task.

    One pass fills the frame's cache, reading every input once, while an
    observed aggregate counts its rows and corrupt rows and, when it
    carries ``ROUTE_COL``, collects the routing keys seen, which
    ``check`` gets before any write (it raises to write nothing). The
    pass writes to Spark's ``noop`` sink: one job, where an aggregate
    action runs three under adaptive execution. The transformed good rows
    go to ``write_good``, counted on that write (after the threshold
    filter); the corrupt rows go to ``write_bad``, skipped on a batch
    with none when ``bad_seeded`` says the channel already exists. The
    cache is released however the body ends.
    """
    routed = ROUTE_COL in parsed.columns
    qe = parsed._jdf.queryExecution()
    open_cost = parsed.sparkSession._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    packed = max(1, -(-qe.optimizedPlan().stats().sizeInBytes() // open_cost))
    if packed < qe.toRdd().getNumPartitions():
        parsed = parsed.coalesce(packed)
    parent = parsed.persist()
    try:
        read = Observation("sensor_read")
        keys = [F.collect_set(ROUTE_COL).alias("seen")] if routed else []
        parent.observe(
            read, F.count(F.lit(1)).alias("n_in"), F.count(CORRUPT_COL).alias("n_bad"), *keys
        ).write.format("noop").mode("overwrite").save()
        row = read.get
        if check is not None:
            check(set(row.get("seen", ())))
        good, bad = split_cached(parent, keep=ROUTE_COL if routed else None)
        obs = Observation("sensor_pipeline")
        processed = transform_sensor(good, config, dim_location)
        write_good(processed.observe(obs, F.count(F.lit(1)).alias("n_good")))
        if write_bad is not None and (row["n_bad"] or not bad_seeded):
            write_bad(bad)
        return row["n_in"], obs.get["n_good"], row["n_bad"]
    finally:
        parent.unpersist()


def run_batch_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    config: PipelineConfig = PipelineConfig(),
    dim_location: DataFrame | None = None,
) -> tuple[int, int]:
    """File-in, file-out batch run (reference entry point, app/app.py:19-89).

    Returns (good_count, bad_count). Unlike the reference -- which buffers
    the whole file in a Python list (app/app.py:24,60) -- nothing here
    materializes on the driver; the counts come from Spark aggregations
    (the reference logs them from its loop, app/app.py:74-79).
    """
    dead_letter = config.dead_letter_path
    _, n_good, n_bad = _process_sensor_frame(
        read_jsonl(spark, in_path, SENSOR_SCHEMA),
        config,
        dim_location,
        write_good=lambda df: write_jsonl(df, out_path),
        write_bad=None if dead_letter is None else lambda df: write_dead_letter(df, dead_letter),
    )
    return n_good, n_bad
