"""Round-15 optimization band: per-query transient persists are
registered and releasable, and releasing them changes no results.

The operators that persist() an intermediate consumed multiple times
inside one query (corrupt-split JSONL parse, quality expect/split)
register with iot_data_pipeline_spark.transient so batch drivers (bench,
oracle harness) can unpersist after each query -- otherwise a 200-query
session pins one CacheManager entry per call forever (guide section 5:
unpersist when done). The prefix scans checkpoint their partitioned
frame instead and register nothing.
"""

from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.prefix import (
    global_fill_forward,
    global_scan,
)
from iot_data_pipeline_spark.operators.quality import Expectation, expect_split
from iot_data_pipeline_spark.transient import (
    _TRANSIENT,
    release_transient_caches,
)


def test_prefix_scans_register_nothing_and_rerun_identically(spark):
    # Released, a persisted partitioned frame re-sampled its range bounds
    # separately on each side of the offsets join; the checkpointed frame
    # has nothing to release, and its results re-execute unchanged.
    release_transient_caches()  # clean slate
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise((F.col("id") % 7).cast("double"))
        .alias("v"),
    )
    scan = global_scan(df, ["k"], sum_cols={"running_sum": "v"}, ranks=True)
    fill = global_fill_forward(df, "v", ["k"])
    first = (scan.orderBy("k").collect(), fill.orderBy("k").collect())
    assert release_transient_caches() == 0
    assert (scan.orderBy("k").collect(), fill.orderBy("k").collect()) == first
    assert [r["running_sum"] for r in first[0]][-1] == sum(
        float(i % 7) for i in range(100) if i % 3
    )


def test_release_unpins_expect_split_cache(spark):
    release_transient_caches()
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("even")
    )
    clean, quarantined = expect_split(
        df, [Expectation("must_be_even", F.col("even"))]
    )
    n_clean, n_quar = clean.count(), quarantined.count()
    assert (n_clean, n_quar) == (5, 5)
    assert len(_TRANSIENT) >= 1
    release_transient_caches()
    # recompute after release: identical counts
    assert (clean.count(), quarantined.count()) == (5, 5)


def test_release_survives_double_call(spark):
    release_transient_caches()
    assert release_transient_caches() == 0


def test_split_corrupt_bad_frame_executes_after_release(spark, tmp_path):
    # round-15 ADVICE (medium): a corrupt-only projection of a raw JSON
    # scan is refused (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN), so ``bad`` FIRST executed after release_transient_caches()
    # raised an AnalysisException -- the one transient site whose release
    # was not recompute-safe. The coalesce guard in split_corrupt keeps a
    # data-column reference in the plan; both frames must now execute and
    # re-execute identically in every release ordering.
    from iot_data_pipeline_spark.sources.readers import read_jsonl, split_corrupt

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"device_id":"d1","temperature":1.0,"humidity":2.0,'
        '"timestamp":"2026-01-01T00:00:00Z"}\n'
        "not json at all\n"
        '"bare string"\n'
    )
    release_transient_caches()
    good, bad = split_corrupt(read_jsonl(spark, str(p)))
    release_transient_caches()  # release BEFORE first execution
    first = sorted(r["raw_line"] for r in bad.collect())
    assert first == ['"bare string"', "not json at all"]
    assert good.count() == 1
    # and the already-executed frames survive a second release + re-run
    release_transient_caches()
    assert sorted(r["raw_line"] for r in bad.collect()) == first
