"""``lake_query``: the read side, a closed loop of oracle-checked queries.

A fixed mix of registry queries (TPC-H aggregation, time series,
curation operators) plus two aggregations over a processed zone that the
engine's own ``run_ingest_available_now`` builds after set-up. One
client runs whole rounds of the mix, each in a seeded order, into the
``noop`` sink: ``--seconds`` / ``ROUND_S`` of them, and at least
``MIN_ROUNDS``. The count depends on the run's length only, not on the
host's speed, so every run does the same work, every query counts
equally often, and the wall-time p50 always has at least ten samples
beyond it. The end-to-end figure is the engine's CPU
time per query (``common.CpuMeter``). Every query is checked against
DuckDB once per run, before timing, which also warms the JVM. The q25
pair-graph consumers (shared session caches) and queries that stage
fixtures or run streams stay out: each timed query must cost the same
every time.
"""

from __future__ import annotations

import random
import time

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
    noop,
    pct,
    steal_share,
    timed_setup,
    transform_config,
)

#: Lake size: 0.01 gives 60k lineitem rows. At this size most queries
#: are bound by fixed per-query overhead (planning, job scheduling).
SCALE = 0.01
ZONE_FILES = 4
ZONE_LINES = 2000
#: TPC-H aggregation, time series, then the curation operators. Kept to
#: ten with the zone queries so that one run fits two whole rounds.
REGISTRY_MIX = (
    "q05_revenue_per_nation",
    "q09_lineitem_agg",
    "q08b_asof_join",
    "q18_hourly_counts",
    "q21_sessionization",
    "q22_exact_dedup",
    "q23_minhash_lsh",
    "q12_cosine_topk",
)
ZONE_MIX = ("zone_location_stats", "zone_file_stats")
MIX = REGISTRY_MIX + ZONE_MIX
#: Whole rounds of the mix a run times at the least: 20 samples put ten
#: beyond the p50.
MIN_ROUNDS = 2
#: Seconds of run length per timed round: a round takes 6.5-10 s.
ROUND_S = 8.0
WARMUP_QUERY = "q18_hourly_counts"
#: Minimum shared-shingle Jaccard for a MinHash candidate pair to count
#: as a confirmed near duplicate.
JACCARD_CONFIRM = 0.5
OPERATOR_REPEATS = 3


def zone_query(spark, lake: str, name: str):
    from iot_data_pipeline_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    zone = read_table(spark, lake, "sensor")
    if name == "zone_location_stats":
        return zone.groupBy("location_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("temp_fahrenheit") * 100).cast("bigint")).alias("cents"),
            F.max("temperature").alias("tmax"),
            F.min("humidity").alias("hmin"),
        )
    return zone.groupBy("source_file").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("device_id").alias("devices"),
        F.sum(F.round(F.col("pressure") * 100).cast("bigint")).alias("pressure_cents"),
    )


def zone_oracle(con, lake: str, name: str) -> list[tuple]:
    src = f"read_parquet('{lake}/sensor.parquet/source_file=*/*.parquet', hive_partitioning=1)"
    if name == "zone_location_stats":
        sql = (f"SELECT location_id, COUNT(*), SUM(CAST(ROUND(temp_fahrenheit * 100) AS BIGINT)), "
               f"MAX(temperature), MIN(humidity) FROM {src} GROUP BY 1")
    else:
        sql = (f"SELECT source_file, COUNT(*), COUNT(DISTINCT device_id), "
               f"SUM(CAST(ROUND(pressure * 100) AS BIGINT)) FROM {src} GROUP BY 1")
    return con.execute(sql).fetchall()


def rows_problems(got: list[tuple], want: list[tuple]) -> list[str]:
    """Order-insensitive comparison of a zone query with its oracle."""
    def key(row: tuple) -> tuple:
        return tuple((v is None, str(v)) for v in row)

    got, want = sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key)
    return [] if got == want else [f"{len(got)} rows differ from the oracle's {len(want)}: "
                                   f"{got[:2]} vs {want[:2]}"]


def build(spark, lake: str, name: str):
    from iot_data_pipeline_spark.queries import REGISTRY

    if name in ZONE_MIX:
        return zone_query(spark, lake, name)
    return REGISTRY[name].fn(spark, lake)


def run(ctx: RunContext, engine: Engine):
    from iot_data_pipeline_spark.sources.readers import register_views
    from iot_data_pipeline_spark.streaming.ingest import run_ingest_available_now
    from iot_data_pipeline_spark.transient import release_transient_caches

    work, tracer = ctx.work, ctx.tracer
    lake = str(work / "lake")
    with ctx.generating():
        gen.write_lake(ctx.seed, SCALE, lake)
        zone_files = gen.render_sensor_files(ctx.seed ^ 0x20E, "z", ZONE_FILES, ZONE_LINES)
        gen.write_files(zone_files, str(work / "zone_raw"))

    def register(spark):
        register_views(spark, lake)
        noop(build(spark, lake, WARMUP_QUERY))
        release_transient_caches()
        return dim_frame(spark)

    setup_s, build_s, dim = timed_setup(ctx, engine, register)
    spark = engine.spark

    with ctx.phase("zone"), tracer.span("ingest.run_ingest_available_now", op="zone"):
        run_ingest_available_now(
            spark, str(work / "zone_raw"), f"{lake}/sensor.parquet", str(work / "zone_ckpt"),
            transform_config(), dim_location=dim,
        )

    # ------------------------------------------- correctness (+ JVM warm-up)
    with ctx.phase("check"):
        bad_queries = check_mix(ctx, spark, lake)

    # ------------------------------------------------------- timed rounds
    rng = random.Random(ctx.seed)
    samples: dict[str, list[float]] = {name: [] for name in MIX}
    cpu_samples: dict[str, list[float]] = {name: [] for name in MIX}
    builds_s, execs_s, jobs, tasks, input_files = [], [], [], [], {}
    latencies: list[float] = []
    ticks0 = host_ticks()
    rounds = max(MIN_ROUNDS, int(ctx.seconds // ROUND_S))
    order = [name for _ in range(rounds) for name in rng.sample(MIX, len(MIX))]
    t_start = time.perf_counter()
    while order:
        name = order.pop()
        op = f"{name}#{ctx.attempted}"
        ctx.attempted += 1
        if ctx.trace:
            spark.sparkContext.setJobGroup(op, name)
        try:
            with tracer.span("queries.query", op=op):
                c0 = engine.cpu.sample()
                t0 = time.perf_counter()
                with tracer.span("queries.build", op=op):
                    df = build(spark, lake, name)
                t1 = time.perf_counter()
                with tracer.span("queries.exec", op=op):
                    noop(df)
                t2 = time.perf_counter()
                c2 = engine.cpu.sample()
        except Exception as e:  # noqa: BLE001 -- a failed query is a counted failure
            ctx.fail(f"{op} raised {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            release_transient_caches()
        if name in bad_queries:
            ctx.fail(f"{op}: failed its oracle check")
            continue
        latencies.append(t2 - t0)
        samples[name].append(t2 - t0)
        cpu_samples[name].append(CpuMeter.since(c0, c2))
        builds_s.append(t1 - t0)
        execs_s.append(t2 - t1)
        if ctx.trace:
            j, t = jobs_and_tasks(spark, op)
            jobs.append(j)
            tasks.append(t)
            if name not in input_files:
                input_files[name] = len(df.inputFiles())
    elapsed = time.perf_counter() - t_start
    steal = steal_share(ticks0)
    ctx.phases["timed"] = elapsed
    if ctx.trace:
        spark.sparkContext.setJobGroup("perfbench", "after the timed queries")

    cpu_s = [c for v in cpu_samples.values() for c in v]
    e2e = end_to_end(setup_s, engine, sum(cpu_s) / max(1, len(cpu_s)))
    notes = [
        f"lake_query: scale {SCALE}, {len(MIX)} queries in the mix, {len(latencies)} timed "
        f"in {rounds} rounds, {elapsed:.1f}s",
        describe_latency("query latency", latencies),
        f"host steal {steal:.3f}; per-query median cpu s: "
        + " ".join(f"{n}={median(v):.2f}" for n, v in cpu_samples.items()),
    ]
    layer: dict[str, float] = {}
    if ctx.trace:
        t_extra = time.time()
        layer = {f"queries.{name}.s": median(v) for name, v in samples.items()}
        n_zone_parts = len([p for p in dir_files(f"{lake}/sensor.parquet", ".parquet")
                            if "__schema_seed__" not in p])
        layer.update({
            "session.build_s": build_s,
            "queries.latency_p50_s": pct(latencies, 0.5),
            "queries.build_s": median(builds_s),
            "queries.exec_s": median(execs_s),
            "queries.jobs_per_query": sum(jobs) / max(1, len(jobs)),
            "queries.tasks_per_query": sum(tasks) / max(1, len(tasks)),
            "readers.input_files": sum(input_files.values()) / max(1, len(input_files)),
            "readers.table_scan_s": table_scans(ctx, spark, lake),
            "sinks.files_per_input_file": n_zone_parts / ZONE_FILES,
        })
        layer.update(operator_metrics(ctx, spark, lake))
        ctx.phases["trace_extras"] = time.time() - t_extra
    return e2e, layer, notes


def check_mix(ctx: RunContext, spark, lake: str) -> set[str]:
    """Hash-match every mix query against DuckDB once; returns the names
    that failed. Each check runs the query, so it counts as an operation."""
    from tests.oracle_harness import compare_query, duck_connection

    con = duck_connection(lake)
    con.execute(f"SET temp_directory='{ctx.work / 'duckdb'}'")
    bad: set[str] = set()
    for name in MIX:
        ctx.attempted += 1
        with ctx.tracer.span("queries.oracle_check", op=name):
            try:
                if name in ZONE_MIX:
                    problems = rows_problems(build(spark, lake, name).collect(),
                                             zone_oracle(con, lake, name))
                else:
                    problems = compare_query(spark, con, name, lake)
            except Exception as e:  # noqa: BLE001 -- a raising check is a counted failure
                problems = [f"raised {type(e).__name__}: {str(e)[:200]}"]
        if problems:
            bad.add(name)
            ctx.fail(f"{name}: {problems[0][:300]}")
    con.close()
    return bad


def table_scans(ctx: RunContext, spark, lake: str) -> float:
    """Median time to scan every lake table (and the zone) into noop."""
    from iot_data_pipeline_spark.sources.readers import TABLES, read_table

    for r in range(OPERATOR_REPEATS):
        with ctx.tracer.span("readers.table_scan", op=f"scan-{r}"):
            for t in TABLES + ("sensor",):
                noop(read_table(spark, lake, t))
    return median(ctx.tracer.durations("readers.table_scan"))


def operator_metrics(ctx: RunContext, spark, lake: str) -> dict[str, float]:
    """MinHash-LSH candidate quality, exact dedup and cosine top-k, each
    called directly on the lake's documents and embeddings."""
    from iot_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )
    from iot_data_pipeline_spark.operators.similarity import cosine_topk
    from iot_data_pipeline_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    tracer = ctx.tracer
    docs = read_table(spark, lake, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    # every tenth document again, minus its last three tokens: near copies
    near = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))).alias("text"),
        )
    )
    exact = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    hashed = shingle_hashes(near, "text", "doc_id").cache()
    with tracer.span("operators.minhash_lsh", op="minhash"):
        pairs = lsh_candidate_pairs(minhash_signatures(hashed)).cache()
        n_cand = pairs.count()
    sets = hashed.groupBy("id").agg(F.collect_set("h").alias("s"))
    a, b = sets.alias("a"), sets.alias("b")
    jac = (
        pairs.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select(
            (F.size(F.array_intersect("a.s", "b.s"))
             / F.size(F.array_union("a.s", "b.s"))).alias("j")
        )
    )
    n_conf = jac.filter(F.col("j") >= JACCARD_CONFIRM).count()
    pairs.unpersist()
    hashed.unpersist()

    emb = read_table(spark, lake, "embeddings")
    for r in range(OPERATOR_REPEATS):
        with tracer.span("operators.dedup", op=f"dedup-{r}"):
            noop(exact_dedup(exact, ["text"], "doc_id"))
        with tracer.span("operators.cosine_topk", op=f"topk-{r}"):
            noop(cosine_topk(emb.filter(F.col("vec_id") < 16), emb, k=10))
    return {
        "operators.minhash_candidates": n_cand,
        "operators.minhash_confirmed": n_conf,
        "operators.minhash_precision": n_conf / max(1, n_cand),
        "operators.dedup_s": median(tracer.durations("operators.dedup")),
        "operators.cosine_topk_s": median(tracer.durations("operators.cosine_topk")),
    }
