"""Shared derivations used by the declared queries.

The reference's input is an IoT sensor stream (FIXTURES.md section 1), but the
driver's oracle can only see the ten pre-registered parquet views. So the
sensor-shaped queries derive a deterministic ``sensor`` relation from the
``events`` table with IEEE-exact arithmetic that both engines compute
identically, and the enrichment dim from a ``range()`` -- the same rows on
both sides, no fixture files needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_data_pipeline_spark.sources.readers import read_table

#: DuckDB CTE text mirrored by :func:`sensor_frame`. temperature spans
#: about -5..44 degC (events.value is 0.01..490.02) so the README's ">10"
#: threshold (reference README.md:40) filters a meaningful fraction; every
#: 17th record gets a NULL temperature to exercise the missing-field path
#: (reference app/app.py:51, 108).
SENSOR_CTE = """
sensor AS (
  SELECT event_id,
         'device-' || CAST(user_id % 25 AS VARCHAR) AS device_id,
         CASE WHEN event_id % 17 = 0 THEN NULL ELSE value / 10 - 5 END AS temperature,
         value AS humidity,
         CAST(ts AS TIMESTAMP) AS ts
  FROM events
)
"""

DIM_CTE = """
dim_device_location AS (
  SELECT 'device-' || CAST(r AS VARCHAR) AS device_id,
         'loc-' || CAST(r % 7 AS VARCHAR) AS location_id
  FROM range(15) t(r)
)
"""


def sensor_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of SENSOR_CTE."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.concat(F.lit("device-"), (F.col("user_id") % 25).cast("string")).alias(
            "device_id"
        ),
        F.when(F.col("event_id") % 17 != 0, F.col("value") / 10 - 5).alias(
            "temperature"
        ),
        F.col("value").alias("humidity"),
        F.col("ts"),
    )


def dim_device_location(spark: SparkSession) -> DataFrame:
    """Spark mirror of DIM_CTE: 15 devices (sensor has 25 -> left-join NULL
    path exercised, FIXTURES.md section 2)."""
    return spark.range(15).select(
        F.concat(F.lit("device-"), F.col("id").cast("string")).alias("device_id"),
        F.concat(F.lit("loc-"), (F.col("id") % 7).cast("string")).alias("location_id"),
    )


def fmt_ts(col: str | F.Column) -> F.Column:
    """Timestamp -> canonical comparison string (oracle side: strftime)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


#: DuckDB twin of fmt_ts -- use as ORACLE_FMT.format(expr)
ORACLE_FMT = "strftime({}, '%Y-%m-%d %H:%M:%S')"


def finite_or_null(col: F.Column) -> F.Column:
    """``col`` when it is a finite double, NULL otherwise (NULL in, NULL
    out). The statistics queries (histograms, percentile bounds, drift
    bins, medians) treat a NaN/Infinity sensor reading as an invalid
    measurement -- present in the row count, absent from every numeric
    summary -- because no engine pair agrees on where non-finite values
    fall in percentile/bucket arithmetic (NaN compares GREATER than
    everything in both Spark and DuckDB, then crashes the DECIMAL paths;
    round-7 NaN fixture). Oracle twin: ORACLE_FINITE."""
    return F.when(~F.isnan(col) & (F.abs(col) != F.lit(float("inf"))), col)


#: DuckDB twin of finite_or_null -- use as ORACLE_FINITE.format(col).
#: Spliced by the q68/q72/q98/q164/q175/q178 oracles; q56 inlines a
#: PAIRWISE variant (isfinite(x) AND isfinite(y)) that this
#: single-column template cannot express.
ORACLE_FINITE = "(CASE WHEN isfinite({0}) THEN {0} END)"


#: modal embedding dimension, one entry per corpus dir holding
#: (parquet fingerprint, dim). A fingerprint mismatch REPLACES the
#: entry -- the latest fingerprint is authoritative and a corpus that is
#: rewritten repeatedly mid-session occupies one slot, not one per
#: rewrite (round-8 advice: the (path, fingerprint)-keyed form grew
#: unboundedly and kept stale entries alive). See valid_embeddings.
_MODAL_DIM_CACHE: dict[str, tuple[tuple, int | None]] = {}


def _embeddings_fingerprint(sf_dir: str) -> tuple:
    """Cheap identity of ``<sf_dir>/embeddings.parquet``: (mtime_ns,
    size) for a plain file; for a Spark-written directory, the newest
    mtime_ns plus total size and entry count of its children -- any
    rewrite (new part files, overwrite-in-place) changes at least one
    component. Pure os.stat, no Spark job."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    latest, total, n = st.st_mtime_ns, 0, 0
    for name in os.listdir(path):
        try:
            s = os.stat(os.path.join(path, name))
        except OSError:
            continue
        latest = max(latest, s.st_mtime_ns)
        total += s.st_size
        n += 1
    return (latest, total, n)


def valid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with degenerate rows excluded: NULL arrays,
    arrays containing NULL elements, all-zero vectors, and vectors whose
    squared norm is not finite (a NaN or Infinity element, or magnitudes
    that overflow the double sum). Cosine has no defined value for them,
    and under the session's ANSI mode the norm division in any
    similarity query would otherwise kill the whole job on the first bad
    row (padding rows / failed encoder outputs -- the rows a real corpus
    always contains). The finiteness check matters because NaN compares
    GREATER than zero in both engines' comparison semantics, so a bare
    ``norm > 0`` silently admits NaN vectors and poisons every
    downstream score (round-7 NaN/Inf fixture: 12 of 17 embedding
    queries diverged). Mirrors operators/similarity._normed's exclusion;
    the oracle twin is EMB_VALID_CTE."""
    e = F.col("embedding")
    norm2 = F.aggregate(
        F.transform(e, lambda v: v.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    valid = read_table(spark, sf_dir, "embeddings").filter(
        e.isNotNull()
        & ~F.exists(e, lambda v: v.isNull())
        & (norm2 > 0)
        & ~F.isnan(norm2)
        & (norm2 < F.lit(float("inf")))
    )
    # Dimensionality contract: a corpus has ONE embedding dimension; a
    # vector of any other length is broken encoder output (a model
    # version change mid-ingest). Off-dimension rows crash the
    # positional readers downstream (ANSI element_at on the IVF sign
    # bits, numpy stacking in the matmul tier -- round-7 mixed-dim
    # fixture killed 7 of 15 consumers), so the boundary keeps only the
    # MODAL dimension (ties break toward the smaller one for
    # determinism). The modal dim is one tiny aggregate, memoized per
    # corpus for the session -- 13 consumers share it, and a literal
    # size filter plans cheaper than a per-query broadcast join. The
    # memo key carries the parquet's stat fingerprint, so rewriting a
    # corpus dir mid-session (a broken write-once assumption) re-derives
    # the dimension instead of silently filtering on a stale one while
    # the DuckDB oracle recomputes it fresh (round-7 advice).
    path_key = os.path.abspath(sf_dir)
    fingerprint = _embeddings_fingerprint(sf_dir)
    cached = _MODAL_DIM_CACHE.get(path_key)
    if cached is None or cached[0] != fingerprint:
        row = (
            valid.groupBy(F.size(e).alias("emb_dim"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("emb_dim"))
            .first()
        )
        cached = (fingerprint, None if row is None else row["emb_dim"])
        _MODAL_DIM_CACHE[path_key] = cached
    dim = cached[1]
    if dim is None:  # empty corpus: the oracle's scalar subquery is NULL
        return valid.filter(F.lit(False))
    return valid.filter(F.size(e) == F.lit(dim))


#: DuckDB twin of valid_embeddings -- splice as a leading CTE body:
#: ``WITH {EMB_VALID_CTE}, rest AS (... FROM embeddings_valid ...)``
EMB_VALID_CTE = """embeddings_base_valid AS (
      SELECT * FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) > 0
        AND isfinite(list_sum(list_transform(embedding::DOUBLE[],
                                             x -> x * x)))
    ),
    embeddings_valid AS (
      SELECT * FROM embeddings_base_valid
      WHERE len(embedding) = (
        SELECT len(embedding) AS d FROM embeddings_base_valid
        GROUP BY 1 ORDER BY COUNT(*) DESC, d LIMIT 1)
    )"""
