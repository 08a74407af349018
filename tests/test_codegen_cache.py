"""The session's compiled-class cache holds the lake query mix.

Spark's default codegen cache keeps 100 generated classes; the mix of
registry queries that ``perfbench``'s ``lake_query`` times compiles
about 180, so with the default the LRU evicted each query's classes
before its next run and every run recompiled them.
"""

from __future__ import annotations

from iot_data_pipeline_spark.queries import REGISTRY

LAKE_MIX = (
    "q05_revenue_per_nation",
    "q09_lineitem_agg",
    "q18_hourly_counts",
    "q21_sessionization",
    "q22_exact_dedup",
    "q23_minhash_lsh",
    "q12_cosine_topk",
)


def _run(spark, sf_dir, name):
    REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_query_mix_rerun_compiles_no_class(spark, sf_dir):
    _run(spark, sf_dir, "q08b_asof_join")
    for name in LAKE_MIX:
        _run(spark, sf_dir, name)
    before = _compiled(spark)
    _run(spark, sf_dir, "q08b_asof_join")
    assert _compiled(spark) - before == 0
