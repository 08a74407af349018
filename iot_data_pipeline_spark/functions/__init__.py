"""Engine function library: portable hashing, text statistics, and the
UDF surface (scalar / pandas / n-gram explode -- SURVEY.md section 2.2 B49-B51)."""

from iot_data_pipeline_spark.functions.hashing import (  # noqa: F401
    ORACLE_HASH,
    PORTABLE_MOD,
    portable_hash,
)
