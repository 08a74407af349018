"""UDF surface (SURVEY.md B49-B51) -- present, tested, and deliberately
rationed.

Engine policy (SURVEY.md section 4.2): built-in column expressions first
-- they stay in whole-stage codegen. When Python is unavoidable, Arrow-
batched pandas UDFs (~10-100x over row-at-a-time). The row-at-a-time
scalar UDF exists for API completeness and as the measured anti-pattern.

Each UDF here has a built-in twin used by the oracle-checked queries, and
tests assert UDF == twin, so the UDF surface is correctness-covered
without putting Python in any declared query's hot path.
"""

# NOTE: no `from __future__ import annotations` here -- pandas_udf infers
# its eval type from REAL annotation objects; stringified annotations make
# every import of this module emit "Cannot infer the eval type" warnings.
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import DoubleType, LongType

from iot_data_pipeline_spark.operators.dedup import kgrams


@udf(returnType=DoubleType())
def celsius_to_fahrenheit_py(c):  # annotation-free: see NOTE above
    """B49 row-at-a-time scalar UDF: the reference's one scalar transform
    (reference app/app.py:15-17). The production path is the column
    expression in pipeline.transform_sensor; this exists as the API-
    completeness twin (and benchmarks ~10x slower -- keep it out of
    hot paths)."""
    if c is None:
        return None
    return c * 9 / 5 + 32


@pandas_udf(LongType())
def token_count_arrow(text: pd.Series) -> pd.Series:
    """B50: tokens per document, vectorized. Twin of
    ``size(split(text, ' '))``.

    Nullable Int64, not int64: a NULL document must count as NULL (SQL
    split semantics), and the non-nullable cast raises on the NaN that
    ``str.len()`` yields for None (round-7 NULL fixture crash)."""
    return text.str.split(" ").str.len().astype("Int64")


def explode_ngrams(df: DataFrame, text_col: str, n: int, out_col: str = "ngram") -> DataFrame:
    """B51 UDTF-equivalent: one row per n-gram, via JVM-side
    sequence/transform/explode (no Python) -- the engine's standing answer
    to 'table function': explode an array-building expression."""
    toked = df.withColumn("__toks", F.split(text_col, " "))
    return toked.withColumn(out_col, F.explode(kgrams("__toks", n))).drop("__toks")

