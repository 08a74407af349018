"""Tests for the UDF surface (every flavor == its built-in twin) and the
plan-shape assertions (pushdown / pruning / broadcast actually happen)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_data_pipeline_spark.functions.hashing import portable_hash
from iot_data_pipeline_spark.functions.udfs import (
    celsius_to_fahrenheit_py,
    explode_ngrams,
    token_count_arrow,
)
from iot_data_pipeline_spark.sources.readers import read_table
from tests.plan_inspect import (
    broadcast_join_count,
    has_pushed_filters,
    read_schema_columns,
    shuffle_count,
)

# ------------------------------------------------------------- UDF surface


@pytest.fixture(scope="module")
def temps(spark):
    return spark.createDataFrame(
        [Row(c=0.0), Row(c=25.5), Row(c=-40.0), Row(c=None)]
    )


def test_scalar_udf_matches_builtin(temps):
    c = F.col("c")
    rows = temps.select(
        celsius_to_fahrenheit_py("c").alias("udf"),
        (c * 9 / 5 + 32).alias("ref"),
    ).collect()
    for r in rows:
        assert r["udf"] == r["ref"]


def test_token_count_pandas(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    rows = docs.select(
        token_count_arrow("text").alias("udf"),
        F.size(F.split("text", " ")).cast("long").alias("ref"),
    ).collect()
    for r in rows:
        assert r["udf"] == r["ref"]


def test_explode_ngrams(spark):
    df = spark.createDataFrame([Row(id=1, text="a b c d")])
    grams = sorted(r["ngram"] for r in explode_ngrams(df, "text", 2).collect())
    assert grams == ["a b", "b c", "c d"]


def test_explode_ngrams_skips_documents_shorter_than_n(spark):
    """A document of fewer than n tokens has no n-gram (the unclamped
    index ``sequence(1, 0)`` would read token 0 of a one-token doc)."""
    df = spark.createDataFrame(
        [Row(id=1, text="one"), Row(id=2, text=""), Row(id=3, text="a b")]
    )
    got = [(r["id"], r["ngram"]) for r in explode_ngrams(df, "text", 2).collect()]
    assert got == [(3, "a b")]


def test_portable_hash_range(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(100)
    rows = docs.select(portable_hash(F.col("text")).alias("h")).collect()
    assert all(0 <= r["h"] < 1_000_000_007 for r in rows)


# ------------------------------------------------------------- plan shapes


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_quantity"
    )
    assert has_pushed_filters(df, "l_quantity")


def test_column_pruning(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}


def test_dim_join_broadcasts(spark, sf_dir):
    from iot_data_pipeline_spark.queries.relational import q05_revenue_per_nation

    df = q05_revenue_per_nation(spark, sf_dir)
    # nation + region (and customer at test scale) must come in as
    # broadcasts; the fact-side join keys shuffle at most once each.
    assert broadcast_join_count(df) >= 2


def test_pipeline_transform_is_shuffle_free(spark, tmp_path):
    """The reference-parity sensor transform (scan -> project -> filter)
    must plan as a single stage: zero exchanges."""
    import json

    from iot_data_pipeline_spark.pipeline import PipelineConfig, transform_sensor
    from iot_data_pipeline_spark.sources.readers import SENSOR_SCHEMA, read_jsonl

    p = tmp_path / "s.jsonl"
    p.write_text(json.dumps({"device_id": "d", "temperature": 20.0}) + "\n")
    df = transform_sensor(
        read_jsonl(spark, str(p), SENSOR_SCHEMA).drop("_corrupt_record"),
        PipelineConfig(temperature_threshold=10.0, fixed_clock="2026-01-01 00:00:00"),
    )
    assert shuffle_count(df) == 0
