"""The bulk ETL layers, timed in ``stream_ingest``'s traced run.

Once the open loop has ended, a seeded burst of sensor files (the
stream's file format, ``FILES`` x ``LINES_PER_FILE`` records) goes
through ``run_batch_pipeline`` (threshold filter, ``dim_location``
enrichment, dead-letter sink), then through each of its layers one
public call at a time: parse (``read_jsonl`` + ``split_corrupt``),
``transform_sensor``, ``write_jsonl`` and ``write_dead_letter``. It is
the opposite batch size over the same reader and transform: per-record
work dominates, the per-batch fixed cost is noise. Every ETL run's
counts and outputs are checked against the generator's.
"""

from __future__ import annotations

import os
import time

import gen
from common import RunContext, dir_files, median, noop, remove, transform_config

FILES = 8
LINES_PER_FILE = 50_000
#: ETL runs and per-layer decompositions per traced run.
REPEATS = 2


def render(seed: int, directory: str) -> list:
    """Generate the burst into ``directory``; returns its files."""
    files = gen.render_sensor_files(seed ^ 0xB01C, "b", FILES, LINES_PER_FILE)
    gen.write_files(files, directory)
    return files


def expected_outputs(files: list) -> tuple[int, int, int, int]:
    """(rows, temp_fahrenheit checksum, enriched rows, dead-letter rows)
    a correct run over ``files`` writes, as the generator computed them."""
    return (
        sum(f.n_pass for f in files),
        sum(f.checksum for f in files),
        sum(f.n_enriched for f in files),
        sum(f.n_malformed for f in files),
    )


def read_outputs(spark, out: str, dead_letter: str) -> tuple[int, int, int, int]:
    """The same four numbers, read back from one run's outputs."""
    from iot_data_pipeline_spark.sources.readers import read_jsonl
    from pyspark.sql import functions as F

    row = (
        read_jsonl(spark, out, "temp_fahrenheit double, location_id string", keep_corrupt=False)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("temp_fahrenheit") * 100).cast("bigint")).alias("cents"),
            F.count("location_id").alias("enriched"),
        )
        .first()
    )
    dead = spark.read.parquet(dead_letter).count()
    return row["n"], row["cents"] or 0, row["enriched"], dead


def check_etl(ctx: RunContext, op: str, counts: tuple, got: tuple, expected: tuple) -> bool:
    """``run_batch_pipeline``'s returned (n_good, n_bad) and the outputs
    read back, against the generator's; a mismatch is a counted failure."""
    if tuple(counts) != (expected[0], expected[3]):
        ctx.fail(f"{op}: (n_good, n_bad)={tuple(counts)}, expected {(expected[0], expected[3])}")
        return False
    if tuple(got) != tuple(expected):
        ctx.fail(f"{op}: output (rows, cents, enriched, dead)={tuple(got)}, expected {expected}")
        return False
    return True


def layers(ctx: RunContext, spark, in_dir: str, files: list, dim) -> dict[str, float]:
    """Per-layer metrics of the bulk path over ``files`` (rendered into
    ``in_dir``)."""
    from iot_data_pipeline_spark.pipeline import run_batch_pipeline, transform_sensor
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt
    from iot_data_pipeline_spark.sources.sinks import write_dead_letter, write_jsonl
    from iot_data_pipeline_spark.transient import release_transient_caches
    from pyspark.sql import functions as F

    tracer = ctx.tracer
    expected = expected_outputs(files)
    n_records = sum(f.n_lines for f in files)
    etl_rates: list[float] = []
    out: dict[str, float] = {}
    for r in range(REPEATS):
        op = f"etl-{r}"
        etl_out, etl_dlq = str(ctx.work / f"etl-out{r}"), str(ctx.work / f"etl-dlq{r}")
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline.run_batch_pipeline", op=op):
                counts = run_batch_pipeline(spark, in_dir, etl_out, transform_config(etl_dlq),
                                            dim_location=dim)
        except Exception as e:  # noqa: BLE001 -- a failed run is a counted failure
            ctx.fail(f"{op} raised {type(e).__name__}: {str(e)[:200]}")
            counts = None
        wall = time.perf_counter() - t0
        release_transient_caches()
        if counts is not None and check_etl(ctx, op, counts,
                                            read_outputs(spark, etl_out, etl_dlq), expected):
            etl_rates.append(n_records / wall)
        remove(etl_out), remove(etl_dlq)

        op = f"decompose-{r}"
        jsonl_out, dlq_out = str(ctx.work / f"d-out{r}"), str(ctx.work / f"d-dlq{r}")
        with tracer.span("readers.jsonl_parse", op=op):
            good, bad = split_corrupt(read_jsonl(spark, in_dir))
            noop(good)
            noop(bad)
        n_good, n_bad = good.count(), bad.count()
        processed = transform_sensor(good, transform_config(), dim)
        with tracer.span("pipeline.transform", op=op):
            noop(processed)
        processed = processed.cache()
        n_out = processed.count()
        n_enriched = processed.filter(F.col("location_id").isNotNull()).count()
        with tracer.span("sinks.write_jsonl", op=op):
            write_jsonl(processed, jsonl_out)
        bad = bad.cache()
        bad.count()
        with tracer.span("sinks.write_dead_letter", op=op):
            write_dead_letter(bad, dlq_out)
        parts = dir_files(jsonl_out, ".json")
        out.update({
            "readers.records_in": n_good + n_bad,
            "readers.corrupt_records": n_bad,
            "readers.good_ratio": n_good / max(1, n_good + n_bad),
            "pipeline.filter_pass_ratio": n_out / max(1, n_good),
            "pipeline.enrich_hit_ratio": n_enriched / max(1, n_out),
            "sinks.files_written": len(parts) + len(dir_files(dlq_out, ".parquet")),
            "sinks.bytes_written": sum(os.path.getsize(p) for p in parts),
        })
        processed.unpersist()
        bad.unpersist()
        release_transient_caches()
        remove(jsonl_out), remove(dlq_out)
    out["pipeline.etl_records_per_s"] = median(etl_rates)
    out["readers.input_bytes"] = sum(len(f.body) for f in files)
    for metric, span in (
        ("readers.jsonl_parse_s", "readers.jsonl_parse"),
        ("pipeline.transform_s", "pipeline.transform"),
        ("sinks.write_jsonl_s", "sinks.write_jsonl"),
        ("sinks.write_dead_letter_s", "sinks.write_dead_letter"),
    ):
        out[metric] = median(tracer.durations(span))
    return out
