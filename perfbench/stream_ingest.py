"""``stream_ingest``: the reference's traffic shape, as an open loop.

A feeder process publishes pre-rendered JSONL files (2,000 records, ~2%
malformed) into the raw zone on a fixed schedule, a burst of ``BURST``
files every ``PERIOD_S`` seconds; one long-lived ``start_sensor_ingest``
stream (threshold filter + ``dim_location`` enrichment) consumes them.
The end-to-end figure is the engine's CPU time per file: the median,
over the bursts, of the CPU used from one burst's due time to the next
(its micro-batch plus the idle polling after it), over ``BURST``. The
period leaves the batch room to finish, so each burst is one batch of
the same size whatever the host's speed. A file's wall-time latency runs
from the moment it was due to the end of the micro-batch that committed
it, so a stalled batch charges its delay to every file queued behind it.

The traced run then also times the bulk ETL layers on a burst of the
same files (``bulk.py``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

import bulk
import gen
from common import (
    CpuMeter,
    Engine,
    RunContext,
    describe_latency,
    dim_frame,
    dir_files,
    end_to_end,
    host_ticks,
    jobs_and_tasks,
    median,
    pct,
    steal_share,
    timed_setup,
    transform_config,
    warm_transform,
)

#: Files per burst, and seconds from one burst to the next: a burst's
#: micro-batch takes 1.5-3 s on the host measured, whatever the steal.
BURST = 4
PERIOD_S = 4.0
LINES_PER_FILE = 2000
#: After the last file is due, the stream gets this long to commit it.
DRAIN_S = 30.0
#: Bursts before the measured ones, to warm the stream's path.
WARM_BURSTS = 2


def _epoch(stamp: str) -> float:
    return (
        datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def committed_files(ckpt: Path) -> dict[str, int]:
    """Basename -> id of the committed batch that read it, from the
    file-source log (``sources/0``) and the commit log (``commits``).

    Every tenth source-log entry is written as ``<id>.compact`` and holds
    the whole history up to it; each line names its own ``batchId``, so
    reading it next to the plain entries gives the same answer.
    """
    commits = ckpt / "commits"
    if not commits.is_dir():
        return {}
    done = {int(n) for n in os.listdir(commits) if n.isdigit()}
    out: dict[str, int] = {}
    src = ckpt / "sources" / "0"
    for name in os.listdir(src) if src.is_dir() else ():
        if not name.removesuffix(".compact").isdigit():
            continue  # .crc and in-flight .tmp files
        try:
            text = (src / name).read_text()
        except OSError:
            continue  # being renamed into place
        for line in text.splitlines()[1:]:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if rec.get("batchId") in done:
                out[rec["path"].rsplit("/", 1)[-1]] = rec["batchId"]
    return out


def score_files(ctx: RunContext, files: list, done: dict[str, int], due: dict[str, float],
                batches: dict[int, tuple[float, float]], zone: dict[str, tuple],
                dead: dict[str, int]) -> tuple[dict[str, float], dict[str, float]]:
    """Check every generated file against what the engine committed and
    return {name: latency} and {name: queue wait} of the files that passed.

    A file passes when a committed batch read it, its good rows landed in
    the processed zone exactly once -- (rows, temp_fahrenheit checksum,
    enriched rows) equal the generator's -- and its malformed lines all
    landed in ``_dead_letter``. Every other file is a counted failure.
    """
    latencies, waits = {}, {}
    for f in files:
        ctx.attempted += 1
        b = done.get(f.name)
        if b is None or f.name not in due or b not in batches:
            ctx.fail(f"{f.name}: not committed by the drain deadline")
            continue
        got = zone.get(f.name, (0, 0, 0))
        want = (f.n_pass, f.checksum, f.n_enriched)
        if got != want or dead.get(f.name, 0) != f.n_malformed:
            ctx.fail(f"{f.name}: zone (rows, cents, enriched)={got} dead={dead.get(f.name, 0)}, "
                     f"expected {want} dead={f.n_malformed}")
            continue
        start, end = batches[b]
        latencies[f.name] = end - due[f.name]
        waits[f.name] = start - due[f.name]
        ctx.tracer.add("ingest.file", due[f.name], end, op=f.name)
    return latencies, waits


def read_outputs(spark, lake: Path) -> tuple[dict[str, tuple], dict[str, int]]:
    """Per source file: (rows, temp_fahrenheit checksum, enriched rows) in
    the processed zone, and rows in its dead-letter channel."""
    from iot_data_pipeline_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    zone = {
        r["source_file"]: (r["n"], r["cents"] or 0, r["enriched"])
        for r in read_table(spark, str(lake), "sensor")
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("temp_fahrenheit") * 100).cast("bigint")).alias("cents"),
            F.count("location_id").alias("enriched"),
        )
        .collect()
    }
    dlq = lake / "sensor.parquet" / "_dead_letter"
    dead = {
        r["source_file"]: r["n"]
        for r in spark.read.parquet(str(dlq)).groupBy("source_file")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    } if dlq.is_dir() else {}
    return zone, dead


def run(ctx: RunContext, engine: Engine):
    from iot_data_pipeline_spark.streaming.ingest import start_sensor_ingest

    work, tracer = ctx.work, ctx.tracer
    with ctx.generating():
        n_bursts = max(1, round(ctx.seconds / PERIOD_S))
        n_files = BURST * (WARM_BURSTS + n_bursts)
        files = gen.render_sensor_files(ctx.seed, "f", n_files, LINES_PER_FILE)
        measured = {f.name for f in files[BURST * WARM_BURSTS:]}
        staging = work / "staging"
        gen.write_files(files, str(staging))
        warm = work / "warm"
        gen.write_files(gen.render_sensor_files(ctx.seed ^ 0x5EED, "w", 1, 200),
                        str(warm / "raw"))
        if ctx.trace:
            bulk_files = bulk.render(ctx.seed, str(work / "bulk"))

    def register(spark):
        dim = dim_frame(spark)
        warm_transform(spark, str(warm / "raw"), dim)
        return dim

    setup_s, build_s, dim = timed_setup(ctx, engine, register)
    spark = engine.spark
    raw, ckpt, lake = work / "raw", work / "ckpt", work / "lake"
    raw.mkdir()
    query = start_sensor_ingest(
        spark, str(raw), str(lake / "sensor.parquet"), str(ckpt), transform_config(),
        dim_location=dim, available_now=False,
    )
    t_loop = time.time()
    start = t_loop + 1.0
    log_path = work / "feeder.json"
    feeder = subprocess.Popen(
        [sys.executable, str(Path(__file__).with_name("feeder.py")),
         str(staging), str(raw), str(BURST), repr(PERIOD_S), repr(start), str(log_path)]
    )

    def drained() -> bool:
        # The commit log entry lands before the batch's progress event,
        # so wait for both.
        done = committed_files(ckpt)
        last = query.lastProgress
        return (len(done) >= n_files and last is not None
                and last["batchId"] >= max(done.values()))

    # One CPU reading at each measured burst's due time and one a period
    # after the last: each cycle holds one burst's micro-batch and the
    # idle polling after it.
    readings = []
    ticks0 = host_ticks()
    try:
        for i in range(WARM_BURSTS, WARM_BURSTS + n_bursts + 1):
            time.sleep(max(0.0, start + i * PERIOD_S - time.time()))
            if not query.isActive:
                break
            readings.append(engine.cpu.sample())
        steal = steal_share(ticks0)
        deadline = start + (WARM_BURSTS + n_bursts - 1) * PERIOD_S + DRAIN_S
        while time.time() < deadline and query.isActive and not drained():
            time.sleep(0.1)
    finally:
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait(timeout=30)
        progress = [json.loads(p.json) for p in query.recentProgress]
        error = query.exception() if not query.isActive else None
        jobs, tasks = jobs_and_tasks(spark, str(query.runId)) if ctx.trace else (0, 0)
        query.stop()
    ctx.phases["open_loop"] = time.time() - t_loop
    done = committed_files(ckpt)
    log = json.loads(log_path.read_text()) if log_path.exists() else []
    due = {r["name"]: r["due"] for r in log}
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    batches = {}
    for p in data:
        t0 = _epoch(p["timestamp"])
        batches[p["batchId"]] = (t0, t0 + p["durationMs"]["triggerExecution"] / 1000)

    with ctx.phase("check"):
        if error is not None:
            ctx.problems.append(f"stream failed: {str(error)[:300]}")
        zone, dead = read_outputs(spark, lake)
        passed, waited = score_files(ctx, files, done, due, batches, zone, dead)
        latencies = [v for k, v in passed.items() if k in measured]
        waits = [v for k, v in waited.items() if k in measured]

    cycles = [CpuMeter.since(a, b) for a, b in zip(readings, readings[1:])]
    e2e = end_to_end(setup_s, engine, median(cycles) / BURST)
    notes = [
        f"stream_ingest: {WARM_BURSTS} + {n_bursts} bursts of {BURST} files x "
        f"{LINES_PER_FILE} lines every {PERIOD_S}s, "
        f"{len(data)} batches, cpu per cycle " + " ".join(f"{c:.3f}" for c in cycles)
        + f" s, steal {steal:.3f}",
        describe_latency("file latency (due -> commit)", latencies),
    ]

    layer: dict[str, float] = {}
    if ctx.trace:
        for p in data:
            t0, t1 = batches[p["batchId"]]
            tracer.add("ingest.batch", t0, t1, op=f"batch-{p['batchId']}")
        # Batch figures over the measured bursts' batches only.
        files_in: dict[int, int] = {}
        for n in measured & set(done):
            files_in[done[n]] = files_in.get(done[n], 0) + 1
        timed = [p for p in data if p["batchId"] in files_in]
        dur = [p["durationMs"] for p in timed]
        # Files due but not yet read when each batch started.
        backlog = max((sum(1 for n, d in due.items() if d <= t0 and done.get(n, 1 << 62) >= b)
                       for b, (t0, _) in batches.items()), default=0)
        parts = [p for p in dir_files(str(lake / "sensor.parquet"), ".parquet")
                 if "__schema_seed__" not in p]
        layer.update({
            "session.build_s": build_s,
            "ingest.batch_s_p50": pct([d["triggerExecution"] / 1000 for d in dur], 0.5),
            "ingest.add_batch_s_p50": pct([d.get("addBatch", 0) / 1000 for d in dur], 0.5),
            "ingest.list_files_s_p50": pct([d.get("latestOffset", 0) / 1000 for d in dur], 0.5),
            "ingest.log_commit_s_p50": pct(
                [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur], 0.5),
            "ingest.file_latency_p50_s": pct(latencies, 0.5),
            "ingest.queue_wait_s_p50": pct(waits, 0.5),
            "ingest.jobs_per_batch": jobs / max(1, len(data)),
            "ingest.tasks_per_batch": tasks / max(1, len(data)),
            "ingest.files_per_batch": median(list(files_in.values())),
            "ingest.records_per_batch": median([p["numInputRows"] for p in timed]),
            "ingest.backlog_files_max": backlog,
            "ingest.generator_late_s_max": max((r["published"] - r["due"] for r in log),
                                               default=0.0),
            "sinks.files_per_input_file": len(parts) / max(1, len(done)),
        })
        notes.append(f"traced: {jobs} jobs, {tasks} tasks over {len(data)} data batches")
        with ctx.phase("bulk"):
            layer.update(bulk.layers(ctx, spark, str(work / "bulk"), bulk_files, dim))
    return e2e, layer, notes
