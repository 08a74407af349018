"""q41-q45: pivot/unpivot reshaping, distribution window analytics, and two
more training-data curation filters (Gopher-style repetition ratio and
stopword/charset quality ratios).

The reshaping ops generalize the reference's fixed-schema projection
(`/root/reference/app/app.py:48-56` adds columns to a flat record; pivot and
unpivot are the schema-reshaping counterparts a real analytics surface needs).
The curation filters extend q28's quality scoring per the north-star mandate
(quality scoring via "length/punct/stopword ratios"; repetition-based
filtering a la Gopher/C4). All are per-row column arithmetic or a single
partial-aggregated shuffle -- no new scale risks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.dedup import kgrams
from iot_data_pipeline_spark.operators.spread import spread_rows

from iot_data_pipeline_spark.queries.base import ORACLE_FINITE, finite_or_null
from iot_data_pipeline_spark.queries.registry import declared
from iot_data_pipeline_spark.sources.readers import read_table


@declared(
    "q41_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
             AS qty_f,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
             AS qty_o,
           ROUND(AVG(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2)
             AS avg_price_f,
           ROUND(AVG(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2)
             AS avg_price_o
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q41_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per returnflag, quantity and price stats split
    by linestatus as columns. Explicit pivot values keep the plan a single
    hash aggregate (no extra distinct-values job) -- the shape that matters
    at 100 TB, where `pivot` without values would scan twice."""
    li = read_table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        )
    )
    return wide.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_avg_price").alias("avg_price_f"),
        F.col("O_avg_price").alias("avg_price_o"),
    ).orderBy("l_returnflag")


@declared(
    "q42_unpivot",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(SUM(l_extendedprice), 2) AS sum_price,
             ROUND(SUM(l_discount), 2) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    ORDER BY l_returnflag, measure
    """,
)
def q42_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): aggregate once, then rotate the measure
    columns into (measure, value) rows. Spark's `unpivot` is a zero-shuffle
    Expand over the aggregated (tiny) side -- the oracle's UNION ALL
    restates the same reshaping relationally."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


@declared(
    "q43_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey), 4) AS pr,
           ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey), 4) AS cd
    FROM customer
    ORDER BY c_mktsegment, pr, c_custkey
    """,
)
def q43_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics (extends B24): PERCENT_RANK + CUME_DIST of
    account balance within market segment. The (c_acctbal, c_custkey) sort
    key makes both functions deterministic under ties."""
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    ).orderBy("c_mktsegment", "pr", "c_custkey")


@declared(
    "q44_repetition_ratio",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2]) AS grams
      FROM documents
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_3grams,
           CASE WHEN len(grams) > 0 THEN
             ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 4)
           END AS dup_3gram_frac,
           ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
             AS dup_token_frac,
           CAST(CASE WHEN len(grams) > 0
                      AND 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                          / len(grams) <= 0.2 THEN 1 ELSE 0 END AS INTEGER)
             AS keep
    FROM g ORDER BY doc_id
    """,
)
def q44_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of duplicated 3-grams and
    duplicated tokens per document, plus the keep/drop decision at a 0.2
    threshold. Entirely per-row array arithmetic, so the compute is one
    pass at any scale; the only exchanges are the declared-output orderBy
    and the spread_rows floor below, which round-robins an under-split
    small scan across cores before the per-row work and no-ops once a
    real corpus scan already has >= defaultParallelism splits
    (operators/spread.py). The 3-gram list is built once from a hoisted
    `split` (interpreted HOF lambdas don't share subexpressions; see
    operators/dedup.kgrams)."""
    docs = spread_rows(read_table(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", F.split("text", " ").alias("toks"))
    g = toked.select("doc_id", "toks", kgrams("toks", 3).alias("grams"))
    has_grams = F.size("grams") > 0
    dup_gram = 1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
    dup_tok = 1.0 - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    return g.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_3grams"),
        # gram-less docs: fraction undefined -> NULL (ANSI would raise on
        # the 0 divisor); keep=0, matching the oracle's guarded CASE
        F.when(has_grams, F.round(dup_gram, 4)).alias("dup_3gram_frac"),
        F.round(dup_tok, 4).alias("dup_token_frac"),
        F.when(has_grams & (dup_gram <= 0.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    ).orderBy("doc_id")


#: Stopword list over the corpus vocabulary (the *plumbing* of a real
#: stopword filter; a production list would be a broadcast table).
STOPWORDS = ["a", "the", "of", "and", "to", "in"]

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@declared(
    "q45_stopword_charset",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space
      FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                 AS DOUBLE) / len(toks), 4) AS stop_ratio,
           CASE WHEN n_chars > 0
                THEN ROUND(CAST(n_alpha AS DOUBLE) / n_chars, 4)
           END AS alpha_ratio,
           CASE WHEN n_chars > 0
                THEN ROUND(CAST(n_space AS DOUBLE) / n_chars, 4)
           END AS space_ratio,
           CAST(CASE WHEN CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                          AS DOUBLE) / len(toks) BETWEEN 0.01 AND 0.5
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM s ORDER BY doc_id
    """,
)
def q45_stopword_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style stopword/charset quality ratios: stopword fraction of
    tokens, alphabetic and whitespace fraction of characters, and the
    keep decision (a document with almost no stopwords is word salad; one
    with too many is boilerplate). Per-row expressions only -- the
    stopword set compiles to an array literal probed inside codegen, so
    the whole filter fuses into the scan stage."""
    docs = read_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    s = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^ ]", "")).alias("n_space"),
    )
    stop_ratio = (
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / F.size("toks")
    )
    nonempty = F.col("n_chars") > 0
    return s.select(
        "doc_id",
        # toks is never empty (split('') = ['']) so stop_ratio's divisor
        # is safe; char ratios are undefined on zero-length text -> NULL
        # (ANSI would raise on the 0 divisor), matching the oracle's CASE
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.when(
            nonempty,
            F.round(F.col("n_alpha").cast("double") / F.col("n_chars"), 4),
        ).alias("alpha_ratio"),
        F.when(
            nonempty,
            F.round(F.col("n_space").cast("double") / F.col("n_chars"), 4),
        ).alias("space_ratio"),
        F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.5), 1)
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    ).orderBy("doc_id")


@declared(
    "q55_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q55_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/skew.py): events has
    only 5 event_type keys, the textbook hot-key shape -- a plain
    groupBy gives each key to ONE reducer no matter how many executors
    exist. salted_agg shards each key 16 ways in stage 1 (map-side
    combine still applies), then combines 16 rows per key in stage 2.
    The oracle is the plain GROUP BY: salting must be invisible in the
    result.
    """
    from iot_data_pipeline_spark.operators.skew import salted_agg

    ev = read_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            # "*": COUNT(*) row count, matching the oracle -- ("value",
            # "count") would skip NULL-value events (degenerate fixture)
            "n_events": ("*", "count"),
            "total_value_raw": ("value", "sum"),
            "min_value_raw": ("value", "min"),
            "max_value_raw": ("value", "max"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("total_value_raw", 2).alias("total_value"),
        F.round("min_value_raw", 2).alias("min_value"),
        F.round("max_value_raw", 2).alias("max_value"),
    ).orderBy("event_type")


@declared(
    "q56_stats_agg",
    oracle="""
    WITH fin AS (
      SELECT l_returnflag,
             CASE WHEN isfinite(l_quantity) AND isfinite(l_extendedprice)
                  THEN l_quantity END AS q,
             CASE WHEN isfinite(l_quantity) AND isfinite(l_extendedprice)
                  THEN l_extendedprice END AS p,
             CASE WHEN isfinite(l_discount) AND isfinite(l_tax)
                  THEN l_discount END AS d,
             CASE WHEN isfinite(l_discount) AND isfinite(l_tax)
                  THEN l_tax END AS t
      FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(CORR(q, p), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(q, p), 2) AS covar_s,
           ROUND(COVAR_POP(d, t), 6) AS covar_p,
           ROUND(REGR_SLOPE(p, q), 4) AS slope,
           ROUND(REGR_INTERCEPT(p, q), 2) AS intercept
    FROM fin GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q56_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (B18 extension): correlation,
    covariance, and least-squares regression over lineitem. All are
    single-pass partial+final aggregates in Spark (each maintains a
    small moment sketch per group), so they scale exactly like SUM.
    """
    li = read_table(spark, sf_dir, "lineitem")
    # corr is the one bivariate aggregate whose Spark builtin still
    # raises DIVIDE_BY_ZERO under ANSI mode when a group has zero
    # variance (constant column) -- regr_slope/regr_intercept/covar_samp
    # all return NULL. A zero-variance group is routine dirty data (the
    # degenerate-relational fixture has tie-only groups), and the oracle
    # (DuckDB) returns NULL there, so compute corr explicitly through
    # try_divide over the regr_s* co-moments: sxy/sqrt(sxx*syy) is the
    # identical formula corr evaluates internally, and the regr_s*
    # family uses PAIRWISE deletion (rows where either side is NULL are
    # excluded from BOTH moments) exactly like corr -- stddev_pop would
    # wrongly include x values whose paired y is NULL (found by the
    # round-7 NULL-bearing relational fixture). The same pairwise rule
    # extends to NON-FINITE values: a NaN in either column would poison
    # the pair's moments in Spark and raises outright in DuckDB's
    # moment aggregates, so the pair is nullified when either side is
    # not finite (round-7 NaN fixture).
    pair_qp = finite_or_null(F.col("l_quantity")).isNotNull() & finite_or_null(
        F.col("l_extendedprice")
    ).isNotNull()
    pair_dt = finite_or_null(F.col("l_discount")).isNotNull() & finite_or_null(
        F.col("l_tax")
    ).isNotNull()
    q = F.when(pair_qp, F.col("l_quantity"))
    p = F.when(pair_qp, F.col("l_extendedprice"))
    d = F.when(pair_dt, F.col("l_discount"))
    t = F.when(pair_dt, F.col("l_tax"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.try_divide(
                    F.regr_sxy(p, q),
                    F.sqrt(F.regr_sxx(p, q) * F.regr_syy(p, q)),
                ),
                4,
            ).alias("corr_qty_price"),
            F.round(F.covar_samp(q, p), 2).alias("covar_s"),
            F.round(F.covar_pop(d, t), 6).alias("covar_p"),
            F.round(F.regr_slope(p, q), 4).alias("slope"),
            F.round(F.regr_intercept(p, q), 2).alias("intercept"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "q57_filtered_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2)
               AS open_value,
           ROUND(AVG(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
               AS avg_big
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q57_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the SQL FILTER clause (one pass, no
    self-joins): the idiomatic replacement for N separate filtered
    scans. Catalyst compiles each FILTER into a conditional update of
    the same hash-agg buffer -- one shuffle total. Expressed through
    the SQL entry point (B5) to exercise FILTER parsing.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2)
                   AS open_value,
               ROUND(AVG(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
                   AS avg_big
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@declared(
    "q60_value_windows",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ROUND(c_acctbal, 2) AS acctbal,
           ROUND(FIRST_VALUE(c_acctbal) OVER w_full, 2) AS seg_top,
           ROUND(LAST_VALUE(c_acctbal) OVER w_full, 2) AS seg_bottom,
           ROUND(NTH_VALUE(c_acctbal, 3) OVER w_full, 2) AS seg_third,
           ROUND(CUME_DIST() OVER w_ord, 4) AS cd
    FROM customer
    WINDOW
      w_ord AS (PARTITION BY c_mktsegment
                ORDER BY c_acctbal DESC, c_custkey),
      w_full AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY c_mktsegment, cd, c_custkey
    """,
)
def q60_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window functions (B25 completion): first/last/nth value
    with an explicit full-partition frame (the default frame stops at
    CURRENT ROW, where last_value degenerates to the row itself), and
    cume_dist on the default ordered frame. Unique order keys make
    every output deterministic.
    """
    customer = read_table(spark, sf_dir, "customer")
    w_ord = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    w_full = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.round(F.first("c_acctbal").over(w_full), 2).alias("seg_top"),
        F.round(F.last("c_acctbal").over(w_full), 2).alias("seg_bottom"),
        F.round(F.nth_value("c_acctbal", 3).over(w_full), 2).alias("seg_third"),
        F.round(F.cume_dist().over(w_ord), 4).alias("cd"),
    ).orderBy("c_mktsegment", "cd", "c_custkey")


@declared(
    "q64_upsert_merge",
    oracle="""
    WITH base AS (
      SELECT user_id, ROUND(SUM(value), 2) AS balance
      FROM events WHERE ts < TIMESTAMP '2024-06-01' GROUP BY user_id
    ),
    changes AS (
      SELECT user_id, ROUND(SUM(value), 2) AS delta
      FROM events WHERE ts >= TIMESTAMP '2024-06-01' GROUP BY user_id
    )
    SELECT COALESCE(b.user_id, c.user_id) AS user_id,
           ROUND(COALESCE(b.balance, 0) + COALESCE(c.delta, 0), 2)
               AS new_balance,
           CASE WHEN b.user_id IS NULL THEN 'insert'
                WHEN c.user_id IS NULL THEN 'unchanged'
                ELSE 'update' END AS action
    FROM base b FULL OUTER JOIN changes c ON b.user_id = c.user_id
    ORDER BY user_id
    """,
)
def q64_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on plain DataFrames (the CDC snapshot-
    maintenance shape): a base snapshot full-outer-joined with a change
    batch; rows classify as insert / update / unchanged and balances
    combine. Spark has no MERGE INTO against raw parquet, so this is
    the idiomatic formulation -- and the scale path: both sides are
    pre-aggregated by the join key before the join, so the shuffle
    carries one row per key per side. The snapshot/changelog time slices
    go through ``read_table(bounds=...)`` so each scan keeps parquet
    row-group pruning on every physical layout (round-10 sweep,
    tools/pushdown_sweep.py).
    """
    cutoff = "2024-06-01"
    base = (
        read_table(spark, sf_dir, "events", bounds={"ts": (None, cutoff)})
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("balance"))
    )
    changes = (
        read_table(spark, sf_dir, "events", bounds={"ts": (cutoff, None)})
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("delta"))
    )
    b, c = base.alias("b"), changes.alias("c")
    action = (
        F.when(F.col("b.user_id").isNull(), "insert")
        .when(F.col("c.user_id").isNull(), "unchanged")
        .otherwise("update")
    )
    return (
        b.join(c, F.col("b.user_id") == F.col("c.user_id"), "full")
        .select(
            F.coalesce("b.user_id", "c.user_id").alias("user_id"),
            F.round(
                F.coalesce("b.balance", F.lit(0.0))
                + F.coalesce("c.delta", F.lit(0.0)),
                2,
            ).alias("new_balance"),
            action.alias("action"),
        )
        .orderBy("user_id")
    )


@declared(
    "q66_arg_extremes",
    oracle="""
    SELECT event_type,
           MAX_BY(user_id, event_id) AS latest_user,
           MIN_BY(user_id, event_id) AS first_user,
           MAX(event_id) AS max_event_id,
           MIN(event_id) AS min_event_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q66_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extreme aggregates (B18 completion): max_by/min_by pull
    a companion column at the group's extreme WITHOUT the self-join or
    window a row_number formulation needs -- one pass, partial+final
    like MIN/MAX. Keyed on the unique event_id so the answer is
    deterministic (max_by on a tied key is engine-arbitrary).
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.max_by("user_id", "event_id").alias("latest_user"),
            F.min_by("user_id", "event_id").alias("first_user"),
            F.max("event_id").alias("max_event_id"),
            F.min("event_id").alias("min_event_id"),
        )
        .orderBy("event_type")
    )


@declared(
    "q67_sorted_list_agg",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(list(doc_id))[1:5], ',') AS first_docs,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q67_sorted_list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List aggregation with canonical ordering (B35/B52 surface):
    collect_list's element order is partition-arrival order --
    nondeterministic by contract -- so any oracle-able (or just
    reproducible) use must sort the collected array before slicing.
    Rendered to a CSV string for engine-neutral comparison.
    """
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5), ","
            ).alias("first_docs"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


@declared(
    "q68_histogram",
    oracle=f"""
    SELECT CAST(ROUND(value * 100, 0) AS BIGINT) // 1000 AS bucket_10,
           COUNT(*) AS n,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM (SELECT * REPLACE ({ORACLE_FINITE.format('value')}
                            AS value) FROM events) events
    GROUP BY 1 ORDER BY 1
    """,
)
def q68_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram with exact integer bucketing: values are
    scaled to integer cents BEFORE bucketing, because a float divide-
    and-floor puts edge values (10.00 stored as 9.999...) in different
    buckets per engine. Integer-cent arithmetic is bit-exact in both.
    One partial+final aggregation; the bucket expression is row-local.
    Non-finite readings have no bucket: treated as NULL measurements on
    both sides (base.finite_or_null -- the ANSI long cast of NaN cents
    would otherwise kill the job; round-7 NaN fixture).
    """
    ev = read_table(spark, sf_dir, "events").withColumn(
        "value", finite_or_null(F.col("value"))
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.groupBy((cents / 1000).cast("long").alias("bucket_10"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bucket_10")
    )


@declared(
    "q72_decimal_exact",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM(CAST({ORACLE_FINITE.format('o_totalprice')}
                         AS DECIMAL(12,2))
               ) AS VARCHAR) AS total_exact,
           CAST(MAX(CAST({ORACLE_FINITE.format('o_totalprice')}
                         AS DECIMAL(12,2))
               ) AS VARCHAR) AS max_exact,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q72_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL arithmetic (type-system surface): money summed as
    DECIMAL(12,2) is order-independent and exact in BOTH engines -- no
    ROUND fences, no summation-order caveats, unlike every double
    aggregate in this suite. The price of exactness is wider shuffle
    rows and no SIMD; the engine supports both and the suite documents
    when each is right. Rendered to strings for engine-neutral
    comparison. A non-finite money value has no DECIMAL representation
    (both engines' casts raise): treated as a NULL measurement on both
    sides (base.finite_or_null; round-7 NaN fixture).
    """
    orders = read_table(spark, sf_dir, "orders")
    dec = finite_or_null(F.col("o_totalprice")).cast("decimal(12,2)")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(dec).cast("string").alias("total_exact"),
            F.max(dec).cast("string").alias("max_exact"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@declared(
    "q73_predicate_aggs",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT_IF(c_acctbal > 5000) AS BIGINT) AS n_rich,
           BOOL_AND(COALESCE(c_acctbal > -1000, FALSE)) AS all_above_floor,
           BOOL_OR(COALESCE(c_acctbal < 0, FALSE)) AS any_negative,
           COUNT(*) AS n
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q73_predicate_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate aggregates (B18 completion): count_if / bool_and /
    bool_or fold data-quality assertions into one aggregation pass --
    the validate-while-you-scan idiom (reference A20's field checks,
    generalized to whole-corpus audits). All three are partial+final
    aggregates with 1-bit/8-byte state.

    The predicates COALESCE NULL comparisons to FALSE on both sides: a
    quality assertion over an unknown value should FAIL, not propagate
    NULL -- and an all-NULL group's NULL boolean aggregate is also a
    comparator hazard (pandas renders a NULL boolean as float NaN on the
    DuckDB side but None on the Spark side; round-7 NULL fixture).
    """
    customer = read_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return (
        customer.groupBy("c_nationkey")
        .agg(
            F.count_if(bal > 5000).alias("n_rich"),
            F.bool_and(F.coalesce(bal > -1000, F.lit(False))).alias(
                "all_above_floor"
            ),
            F.bool_or(F.coalesce(bal < 0, F.lit(False))).alias("any_negative"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_nationkey")
    )


@declared(
    "q138_salted_join",
    oracle="""
    WITH dim AS (
      SELECT event_type, length(event_type) AS weight
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value * d.weight), 2) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def q138_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe JOIN twin of q55's salted aggregation: events carries
    only 5 distinct event_type keys, so an unsalted shuffle join lands
    each key on ONE reducer no matter the cluster size.
    ``salted_join`` (operators/skew.py) salts the fact side 16 ways and
    replicates the dim rows across the salts -- the hot key's probe work
    spreads over 16 tasks. The oracle is the plain join: salting must be
    invisible in the result.

    This is the middle tier between broadcast (dim fits in memory) and
    AQE skew-split (which only helps after a sort-merge materializes the
    skew); at 100 TB it is the shape for joining a skewed fact against a
    per-key-bounded-but-too-big-to-broadcast right side.
    """
    from iot_data_pipeline_spark.operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .select("event_type", F.length("event_type").alias("weight"))
    )
    joined = salted_join(ev, dim, ["event_type"], n_salts=16)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
        .orderBy("event_type")
    )


@declared(
    "q139_posting_lists",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    idx AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string(list_sort(list(doc_id))[1:5], ',') AS postings
      FROM tok WHERE token <> '' GROUP BY token
    )
    SELECT token, df, postings FROM idx
    WHERE df >= 50 ORDER BY token
    """,
)
def q139_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-serving complement of q116's
    BM25): per token, document frequency plus the head of its sorted
    posting list (first 5 doc_ids) -- the artifact a retrieval system
    materializes from a curated corpus.

    Scale notes: the (doc, token) distinct and the per-token aggregate
    are the same two shuffles any index build pays; posting heads are
    capped BEFORE leaving the aggregate (sort_array + slice on the
    grouped array), so no unbounded strings ride the shuffle or the
    result. Whole posting lists at 100 TB would be written sharded by
    token range -- same plan, partitioned sink.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5),
            ).alias("postings"),
        )
        .filter(F.col("df") >= 50)
        .orderBy("token")
    )


def _pagerank_round_sql(prev: str, k: int) -> str:
    """One unrolled PageRank iteration as DuckDB CTE fragments (damping
    0.85, dangling mass redistributed uniformly)."""
    return f"""
    contrib{k} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(p.pr / p.outdeg AS DECIMAL(28,18))) AS DOUBLE)
               AS inflow
      FROM {prev} p JOIN edges e ON e.src = p.node
      GROUP BY e.dst
    ),
    dangling{k} AS (
      SELECT COALESCE(CAST(SUM(CAST(pr AS DECIMAL(28,18))) AS DOUBLE), 0)
               AS mass
      FROM {prev} WHERE outdeg = 0
    ),
    pr{k} AS (
      SELECT n.node, n.outdeg,
             0.15 / (SELECT cnt FROM n_nodes)
             + 0.85 * (COALESCE(c.inflow, 0)
                       + (SELECT mass FROM dangling{k})
                         / (SELECT cnt FROM n_nodes)) AS pr
      FROM {prev} n LEFT JOIN contrib{k} c ON n.node = c.node
    )"""


@declared(
    "q140_pagerank",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 120
    ),
    rare AS (
      SELECT token FROM tok WHERE token <> ''
      GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 6
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id <> b.doc_id
      WHERE a.token IN (SELECT token FROM rare)
    ),
    edges AS (SELECT src, dst FROM pairs),
    nodes AS (SELECT DISTINCT doc_id AS node FROM documents WHERE doc_id < 120),
    n_nodes AS (SELECT COUNT(*) AS cnt FROM nodes),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    pr0 AS (
      SELECT n.node, COALESCE(d.outdeg, 0) AS outdeg,
             1.0 / (SELECT cnt FROM n_nodes) AS pr
      FROM nodes n LEFT JOIN deg d ON n.node = d.node
    ),
    {_pagerank_round_sql('pr0', 1)},
    {_pagerank_round_sql('pr1', 2)},
    {_pagerank_round_sql('pr2', 3)}
    SELECT node AS doc_id, ROUND(pr * 1000, 4) AS pr_permille
    FROM pr3 ORDER BY pr_permille DESC, doc_id LIMIT 20
    """,
)
def q140_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over a derived document link graph (the
    web-graph quality signal crawl-curation pipelines attach to
    pretraining documents): docs sharing a RARE token (df 2..6) link to
    each other; 3 damped iterations (d=0.85) with dangling mass
    redistributed uniformly; top-20 by rank.

    Exactness: both engines run the same unrolled dataflow -- per-node
    inflow and dangling-mass sums accumulate in DECIMAL(28,18) (q112's
    order-independence trick, so Spark's partial-aggregation order cannot
    perturb the result), identical IEEE literals elsewhere, ROUND after
    the last iteration (SURVEY section 2.3 rule 1).

    Scale notes: the classic distributed PageRank layout -- one shuffle
    per iteration (contrib groupBy dst), ranks and degrees co-partitioned
    by node, dangling mass and N as 1-row broadcasts, localCheckpoint per
    round to pin lineage. Edge derivation is rare-token blocked (bounded
    fan-out by construction: df <= 6 caps any token at 30 pairs).
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    rare = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 6))
        .select("token")
    )
    rtok = tok.join(F.broadcast(rare), "token")
    edges = (
        rtok.alias("a")
        .join(rtok.alias("b"), "token")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = docs.select(F.col("doc_id").alias("node")).distinct()
    n_nodes_df = nodes.agg(F.count(F.lit(1)).alias("cnt"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    pr = (
        nodes.join(deg, "node", "left")
        .join(F.broadcast(n_nodes_df))
        .select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0)).alias("outdeg"),
            (F.lit(1.0) / F.col("cnt")).alias("pr"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(3):
        contrib = (
            pr.join(edges, pr["node"] == edges["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                # DECIMAL partial sums (q112's trick): the per-node inflow
                # is independent of partial-aggregation order, so the
                # result cannot drift with partitioning or diverge from
                # the oracle at ROUND boundaries.
                F.sum((F.col("pr") / F.col("outdeg")).cast("decimal(28,18)"))
                .cast("double")
                .alias("inflow")
            )
        )
        dangling = pr.filter(F.col("outdeg") == 0).agg(
            F.coalesce(
                F.sum(F.col("pr").cast("decimal(28,18)")).cast("double"),
                F.lit(0.0),
            ).alias("mass")
        )
        pr = (
            pr.select("node", "outdeg")
            .join(contrib, "node", "left")
            .join(F.broadcast(dangling))
            .join(F.broadcast(n_nodes_df))
            .select(
                "node",
                "outdeg",
                (
                    F.lit(0.15) / F.col("cnt")
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("mass") / F.col("cnt")
                    )
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        pr.select(
            F.col("node").alias("doc_id"),
            F.round(F.col("pr") * 1000, 4).alias("pr_permille"),
        )
        .orderBy(F.desc("pr_permille"), "doc_id")
        .limit(20)
    )


@declared(
    "q146_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-06-01'
      ) WHERE rn = 1
    ),
    latest_change AS (
      SELECT user_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-06-01'
      ) WHERE rn = 1
    )
    SELECT user_id,
           ROUND(CASE WHEN c.op = 'U' THEN c.value ELSE b.value END, 2)
             AS final_value,
           CASE WHEN c.op IS NULL THEN 'kept_base' ELSE 'upserted' END
             AS status
    FROM base b FULL JOIN latest_change c USING (user_id)
    WHERE COALESCE(c.op, 'U') <> 'D'
    ORDER BY user_id
    """,
)
def q146_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply -- the piece q64's upsert-only merge lacks: a
    changelog with upserts AND deletes applied to a base snapshot with
    last-writer-wins per key (total order: ts, event_id). 'error'
    events play the delete op; the latest op per key decides whether
    the key survives with the change value, survives with its base
    value, or is tombstoned out. This is the Debezium-style snapshot
    maintenance loop expressed on plain DataFrames.

    Scale plan: both sides reduce to one row per key BEFORE the full
    outer join (rank-prune windows over the (user_id, ts) shuffle), so
    the join carries keys, not history; deletes drop in the same
    projection. At 100 TB the changelog side is a micro-batch -- tiny
    against the snapshot -- and the same plan broadcast-joins it. The
    snapshot/changelog time slices go through ``read_table(bounds=...)``
    so each scan keeps parquet row-group pruning on every physical
    layout (round-10 sweep, tools/pushdown_sweep.py).
    """
    cutoff = "2024-06-01"
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base = (
        read_table(spark, sf_dir, "events", bounds={"ts": (None, cutoff)})
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("base_value"))
    )
    latest = (
        read_table(spark, sf_dir, "events", bounds={"ts": (cutoff, None)})
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("chg_value"),
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
                "op"
            ),
        )
    )
    return (
        base.join(latest, "user_id", "full")
        .filter(F.coalesce(F.col("op"), F.lit("U")) != "D")
        .select(
            "user_id",
            F.round(
                F.when(F.col("op") == "U", F.col("chg_value")).otherwise(
                    F.col("base_value")
                ),
                2,
            ).alias("final_value"),
            F.when(F.col("op").isNull(), "kept_base")
            .otherwise("upserted")
            .alias("status"),
        )
        .orderBy("user_id")
    )


@declared(
    "q150_chain_components",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id % 64 AS bucket
      FROM events WHERE event_id < 10000
    ),
    sized AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             MIN(event_id) AS component
      FROM ev GROUP BY bucket
    )
    SELECT component, n_nodes FROM sized
    WHERE n_nodes >= 2
    ORDER BY component
    """,
)
def q150_chain_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed star-contraction connected components on DEEP graphs:
    events (capped at event_id < 10000 so the graph is constant-size
    across scale factors) are chained consecutively within user buckets
    (user_id % 64) -- 64 path components ~150 nodes deep, the diameter
    regime that star contraction's node-count-bound round count handles
    (operators/graph.connected_components, forced onto its distributed
    path with ``local_threshold=0``; q52 covers the shallow dedup-cluster
    regime on the driver union-find path).

    The oracle derives the answer from the generative structure instead
    of re-running a graph algorithm: a chain over a bucket's events is
    one component whose id is the bucket's min event_id and whose size
    is the bucket's event count -- so the hash-match independently
    verifies the contraction's fixpoint labeling, not a reimplementation
    of it.

    Scale notes: edge derivation is one window over the bucket
    partitioning (no shuffle beyond the bucket hash); the contraction
    runs ~log2(depth) rounds of two groupBy+join phases each, lineage
    cut per round. Output is one row per component.
    """
    from iot_data_pipeline_spark.operators.graph import connected_components

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 10000)
        .select("event_id", (F.col("user_id") % 64).alias("bucket"), "ts")
    )
    w = Window.partitionBy("bucket").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev", F.lag("event_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("event_id").alias("dst"))
    )
    cc = connected_components(edges, local_threshold=0)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("component")
    )


@declared(
    "q152_cms_heavy_hitters",
    oracle="""
    WITH ev AS (
      SELECT CAST(user_id AS VARCHAR) AS k FROM events
    ),
    counters AS (
      SELECT td.d AS depth,
             (CAST(('0x' || substr(md5(k || '#' || td.d), 1, 15)) AS BIGINT)
              % 1000000007) % 128 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM ev, range(3) td(d)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM ev GROUP BY k
      ORDER BY exact_cnt DESC, k LIMIT 20
    ),
    est AS (
      SELECT e.k, e.exact_cnt, CAST(MIN(c.c) AS BIGINT) AS cms_est
      FROM exact e
      CROSS JOIN range(3) td(d)
      JOIN counters c
        ON c.depth = td.d
       AND c.bucket = (CAST(('0x' || substr(md5(e.k || '#' || td.d), 1, 15))
                            AS BIGINT) % 1000000007) % 128
      GROUP BY e.k, e.exact_cnt
    )
    SELECT k AS user_id, exact_cnt, cms_est,
           cms_est - exact_cnt AS overestimate
    FROM est
    ORDER BY exact_cnt DESC, user_id
    """,
)
def q152_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the event stream -- the
    mergeable frequency sketch (Cormode & Muthukrishnan 2005) that finds
    hot keys WITHOUT per-key state: depth 3 x width 128 counters, bucket
    h_i(k) = portable_hash(k || '#' || i) % 128, estimate = min over
    depths. The oracle rebuilds the identical sketch in SQL (same md5
    bucket hash), so the distributed counter construction -- not a
    tolerance band -- is what's checked; exact counts ride along so every
    row also exhibits the CMS >= exact one-sided error guarantee.

    Scale story: the counter table is 384 rows REGARDLESS of input size --
    one map-side-combined shuffle, then a broadcast of the sketch to probe
    estimates. At 100 TB the sketch is what you keep (mergeable across
    partitions/days like b03's HLL); the exact-count branch here exists to
    audit the sketch and would be sampled or dropped at full scale.
    Heavy-hitter probes take the top-20 exact keys with an explicit
    (count, key) tiebreak so the cutoff is deterministic in both engines.

    Reference parity: the reference keeps no frequency state at all
    (`app/app.py:44-66` is stateless per-record transform); this is the
    north-star sketch tier next to b01's approx aggregates and b03's HLL,
    but oracle-checked exactly.
    """
    from iot_data_pipeline_spark.functions.hashing import portable_hash

    width = 128
    ev = read_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )

    def bucket(key: F.Column, d: int) -> F.Column:
        return portable_hash(F.concat(key, F.lit(f"#{d}"))) % width

    counters = (
        ev.select(
            F.posexplode(
                F.array(*[bucket(F.col("k"), d) for d in range(3)])
            ).alias("depth", "bucket")
        )
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    exact = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "k")
        .limit(20)
    )
    probes = exact.select(
        "k",
        "exact_cnt",
        F.posexplode(
            F.array(*[bucket(F.col("k"), d) for d in range(3)])
        ).alias("depth", "bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("k", "exact_cnt")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    return est.select(
        F.col("k").alias("user_id"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
    ).orderBy(F.desc("exact_cnt"), "user_id")


@declared(
    "q164_ivm_join_view",
    oracle=f"""
    WITH final_state AS (
      -- last-writer-wins per orderkey: the update batch re-sends every
      -- key with o_orderkey % 3 = 0 AND % 2 = 0 at an uplifted price,
      -- overwriting the insert batch's row for the same key
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
                  THEN o_totalprice * 1.1 ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           -- exact DECIMAL summation (q112/q126 rule): a plain double
           -- SUM's result depends on partial-aggregation order, and at
           -- sf0.1 group sizes the ulp drift crosses the cent-rounding
           -- boundary (found by the sf0.1 harness sweep; sf0.01 passed)
           ROUND(CAST(SUM(CAST({ORACLE_FINITE.format('f.price')}
                               AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS revenue
    FROM final_state f JOIN customer c ON f.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey ORDER BY nationkey
    """,
)
def q164_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM) of a join view under upsert
    deltas -- the materialized ``orders JOIN customer`` view is NEVER
    recomputed from scratch: orders arrive as two insert batches
    followed by an UPDATE batch that re-sends already-present keys at an
    uplifted price, and each delta folds in by the classic rule
    ``V := (V ANTI-JOIN delta-keys) UNION (delta JOIN dim)`` -- the
    upsert delete+insert, the same last-writer-wins contract as q146's
    CDC apply but maintained against a *derived join view*, not a base
    table. The oracle computes the view from the FINAL base state in one
    shot, so the hash-match proves incremental == full recompute.

    Scale notes: each maintenance step shuffles only the delta (the
    existing view is anti-joined on the delta's key set, which
    broadcasts when deltas are small -- the common case for incremental
    loads); the customer join carries NO hint -- customer is fact-sized
    (grows with SF; the q181 lesson), so the planner broadcasts it at
    small SF and shuffle-joins the delta at SFs where it no longer
    fits, which stays delta-proportional either way; the view is
    localCheckpointed per step so lineage stays flat however many
    batches arrive. This is the join-view counterpart of
    streaming/rollup.py's incremental aggregate maintenance; at 100 TB
    the view lives as a partitioned table and the anti-join becomes a
    partition-pruned MERGE on the delta's key range.
    """
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    # delta stream: two insert batches covering all keys, then an UPDATE
    # batch re-sending the even keys of batch 0 at an uplifted price --
    # those rows already sit in the view and must be replaced, which is
    # what makes the anti-join step load-bearing
    filters = [
        F.col("o_orderkey") % 3 == 0,
        F.col("o_orderkey") % 3 != 0,
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 2 == 0),
    ]
    view = None
    for b, flt in enumerate(filters):
        price = (
            F.col("o_totalprice") * 1.1 if b == 2 else F.col("o_totalprice")
        )
        delta = orders.filter(flt).select(
            "o_orderkey", "o_custkey", price.alias("price")
        )
        joined = delta.join(
            cust, delta.o_custkey == cust.c_custkey
        ).select("o_orderkey", "o_custkey", "price", "c_nationkey")
        if view is None:
            view = joined
        else:
            keys = delta.select("o_orderkey")
            view = view.join(keys, "o_orderkey", "left_anti").unionByName(
                joined
            )
        view = view.localCheckpoint(eager=False)
    return (
        view.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            # exact decimal sum (q112/q126 rule): plain double SUM order
            # drifts past the cent boundary at sf0.1 group sizes;
            # non-finite money has no DECIMAL representation -> NULL
            # measurement both sides (round-7 NaN fixture)
            F.round(
                F.sum(
                    finite_or_null(F.col("price")).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("nationkey")
    )


@declared(
    "q165_spatial_radius_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 37) % 4000 AS x,
             (c_custkey * 91) % 4000 AS y
      FROM customer
    ),
    celled AS (
      SELECT id, x, y, x // 100 AS cx, y // 100 AS cy FROM pts
    ),
    probes AS (
      SELECT id, x, y, cx + dx.d AS cx, cy + dy.d AS cy
      FROM celled, range(-1, 2) dx(d), range(-1, 2) dy(d)
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM probes a JOIN celled b ON a.cx = b.cx AND a.cy = b.cy
                                  AND a.id < b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 10000
    ),
    dedup AS (SELECT DISTINCT id_a, id_b, d2 FROM pairs)
    SELECT id_a, id_b, CAST(d2 AS BIGINT) AS d2 FROM dedup
    ORDER BY id_a, id_b
    """,
)
def q165_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join via grid bucketing -- the blocked-join
    family's geometric member: points (integer coordinate units seeded
    from c_custkey on a 4000x4000 grid) pair up when within distance 100,
    found by hashing each point to a 100-unit grid cell, exploding each
    point to its 3x3 cell NEIGHBORHOOD on the probe side, equi-joining on
    cell, and verifying exact squared distance -- never a cross join, and
    integer arithmetic end-to-end so the oracle hash-matches without any
    float tolerance. Cell size == radius guarantees no false negatives
    (any pair within R spans at most adjacent cells); the 9x probe
    explode is the same broadcast-side-only fan-out as q149's multi-probe
    IVF cells.

    Scale notes: cost is sum over cells of |cell| x |neighborhood| --
    linear for bounded density (the geohash/S2 bucketing argument);
    the shuffle carries (id, x, y, cell) ints. Skewed hot cells (cities)
    would take the q138 salting treatment. Real geodesic distance drops
    into the verify predicate (haversine on the JVM) without touching
    the candidate plan; integer units here keep the oracle exact.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 4000).alias("x"),
        ((F.col("c_custkey") * 91) % 4000).alias("y"),
    )
    celled = cust.select(
        "id", "x", "y",
        F.floor(F.col("x") / 100).alias("cx"),
        F.floor(F.col("y") / 100).alias("cy"),
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), "
        "dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    probes = celled.select(
        "id", "x", "y", "cx", "cy", offsets.alias("o")
    ).select(
        "id", "x", "y",
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    a = probes.alias("a")
    b = celled.alias("b")
    d2 = (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x")) + (
        F.col("a.y") - F.col("b.y")
    ) * (F.col("a.y") - F.col("b.y"))
    pairs = (
        a.join(
            b,
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(d2 <= 10000)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            d2.cast("bigint").alias("d2"),
        )
        .distinct()
    )
    return pairs.orderBy("id_a", "id_b")


@declared(
    "q166_fastss_typo_join",
    oracle="""
    WITH words AS (
      SELECT DISTINCT w AS s FROM (
        SELECT unnest(string_split(p_name, ' ')) AS w FROM part
      ) WHERE length(w) >= 3
    ),
    strings AS (
      SELECT s FROM words
      UNION
      SELECT s[1:1] || s[3:] AS s FROM words  -- seeded drop-2nd-char typos
    ),
    variants AS (
      SELECT s, unnest(
        list_prepend(s, list_transform(range(1, length(s) + 1),
                                       i -> s[1:i-1] || s[i+1:]))) AS v
      FROM strings
    ),
    cand AS (
      SELECT DISTINCT a.s AS word_a, b.s AS word_b
      FROM variants a JOIN variants b ON a.v = b.v AND a.s < b.s
    )
    SELECT word_a, word_b,
           CAST(levenshtein(word_a, word_b) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(word_a, word_b) <= 1
    ORDER BY word_a, word_b
    """,
)
def q166_fastss_typo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity join via deletion neighborhoods (the
    FastSS dictionary method, Bocek et al. 2007 -- public algorithm): two
    strings are within edit distance 1 only if their delete-one-character
    neighborhoods intersect, so candidates come from an EQUI-join on
    neighborhood variants -- never an all-pairs Levenshtein sweep -- and
    an exact ``levenshtein(a,b) <= 1`` verify (built into BOTH engines,
    integer result) prunes the false positives the shared-variant filter
    admits (e.g. transpositions). The string set is the part-name
    vocabulary plus seeded drop-2nd-char typos, so the join provably has
    work to do; output is the verified typo pair list.

    Scale notes: a string of length L explodes to L+1 variants (bounded
    fan-out, like shingling); the candidate join shuffles short variant
    strings; verification touches only candidates. This is the
    string-metric member of the blocked-join family (LSH q23, Hamming
    bands q134, prefix filter q145, grid cells q165) -- for typo-level
    dedup of entity names where token-level similarity is too coarse.
    At larger edit distances the neighborhoods recurse (delete-k), with
    candidate volume the exponential knob the verify step caps.
    """
    words = (
        read_table(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .filter(F.length("w") >= 3)
        .distinct()
    )
    strings = words.select(F.col("w").alias("s")).union(
        words.select(
            F.concat(
                F.substring("w", 1, 1), F.expr("substring(w, 3)")
            ).alias("s")
        )
    ).distinct()
    variants = strings.select(
        "s",
        F.explode(
            F.concat(
                F.array(F.col("s")),
                F.transform(
                    F.sequence(F.lit(1), F.length("s")),
                    lambda i: F.concat(
                        F.substring(F.col("s"), F.lit(1), i - 1),
                        F.col("s").substr(i + 1, F.length("s")),
                    ),
                ),
            )
        ).alias("v"),
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.s") < F.col("b.s")),
        )
        .select(F.col("a.s").alias("word_a"), F.col("b.s").alias("word_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("word_a", "word_b").cast("bigint")
        )
        .filter(F.col("dist") <= 1)
        .orderBy("word_a", "word_b")
    )


@declared(
    "q175_drift_psi",
    oracle=f"""
    WITH fin AS (
      SELECT * REPLACE ({ORACLE_FINITE.format('value')}
                        AS value) FROM events
    ),
    a AS (
      SELECT event_type, value FROM fin
      WHERE event_id % 2 = 0 AND event_id < 50000
    ),
    b AS (
      SELECT event_type,
             CASE WHEN event_type = 'purchase' THEN value * 1.25 + 40
                  ELSE value END AS value
      FROM fin WHERE event_id % 2 = 1 AND event_id < 50000
    ),
    cuts AS (
      SELECT event_type,
             quantile_cont(value, [0.2, 0.4, 0.6, 0.8]) AS q
      FROM a GROUP BY event_type
    ),
    abin AS (
      SELECT a.event_type,
             CASE WHEN value < q[1] THEN 0 WHEN value < q[2] THEN 1
                  WHEN value < q[3] THEN 2 WHEN value < q[4] THEN 3
                  ELSE 4 END AS bin
      FROM a JOIN cuts USING (event_type)
    ),
    bbin AS (
      SELECT b.event_type,
             CASE WHEN value < q[1] THEN 0 WHEN value < q[2] THEN 1
                  WHEN value < q[3] THEN 2 WHEN value < q[4] THEN 3
                  ELSE 4 END AS bin
      FROM b JOIN cuts USING (event_type)
    ),
    pa AS (
      SELECT event_type, bin, COUNT(*) AS na,
             SUM(COUNT(*)) OVER (PARTITION BY event_type) AS ta
      FROM abin GROUP BY event_type, bin
    ),
    pb AS (
      SELECT event_type, bin, COUNT(*) AS nb,
             SUM(COUNT(*)) OVER (PARTITION BY event_type) AS tb
      FROM bbin GROUP BY event_type, bin
    ),
    terms AS (
      SELECT pa.event_type,
             ((COALESCE(pb.nb, 0) + 1.0) / (pb_t.tb + 5.0)
              - (pa.na + 1.0) / (pa.ta + 5.0))
             * ln(((COALESCE(pb.nb, 0) + 1.0) / (pb_t.tb + 5.0))
                  / ((pa.na + 1.0) / (pa.ta + 5.0))) AS term
      FROM pa
      LEFT JOIN pb ON pa.event_type = pb.event_type AND pa.bin = pb.bin
      JOIN (SELECT event_type, MAX(tb) AS tb FROM pb GROUP BY event_type)
        pb_t ON pa.event_type = pb_t.event_type
    )
    SELECT event_type, ROUND(SUM(term), 4) AS psi,
           CASE WHEN SUM(term) > 0.2 THEN 1 ELSE 0 END AS drifted
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def q175_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring between two data snapshots -- the
    population stability index every production training pipeline
    watches before retraining: snapshot A (even event ids) defines
    per-type quintile cut points from its EXACT percentiles; both
    snapshots histogram against those fixed cuts; PSI = sum over bins of
    (pB - pA) * ln(pB / pA) with add-one smoothing (empty bins must not
    produce infinities). Snapshot B's 'purchase' values are deliberately
    shifted (x1.25 + 40), so exactly that type must cross the classic
    0.2 drift threshold -- the audit has a known positive and known
    negatives. Quantile parity follows q09's exact-percentile precedent;
    log arithmetic follows q132's; bucket membership uses the SAME cut
    values in both engines so boundary assignment is identical.

    Scale notes: cut points are one exact-percentile aggregate over the
    reference snapshot (percentile_approx at 100 TB -- same plan shape);
    histogramming is a broadcast join of the per-type cut rows onto each
    snapshot's scan; PSI folds per type from <= 5 bin rows. Nothing
    shuffles but the two histogram aggregates.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 50000)
        # non-finite readings are invalid measurements: NULL through the
        # cuts/bins on both sides (base.finite_or_null; NULLs land in
        # the top bin via the CASE fall-through, identically per engine)
        .withColumn("value", finite_or_null(F.col("value")))
    )
    a = ev.filter(F.col("event_id") % 2 == 0).select("event_type", "value")
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_type",
        F.when(
            F.col("event_type") == "purchase", F.col("value") * 1.25 + 40
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    cuts = a.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.2, 0.4, 0.6, 0.8))").alias("q")
    )

    def binned(df):
        return (
            df.join(F.broadcast(cuts), "event_type")
            .select(
                "event_type",
                F.when(F.col("value") < F.col("q")[0], 0)
                .when(F.col("value") < F.col("q")[1], 1)
                .when(F.col("value") < F.col("q")[2], 2)
                .when(F.col("value") < F.col("q")[3], 3)
                .otherwise(4)
                .alias("bin"),
            )
            .groupBy("event_type", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "t", F.sum("n").over(Window.partitionBy("event_type"))
            )
        )
    pa = binned(a).withColumnsRenamed({"n": "na", "t": "ta"})
    pb = binned(b).withColumnsRenamed({"n": "nb", "t": "tb"})
    tb = pb.groupBy("event_type").agg(F.max("tb").alias("tb"))
    terms = (
        pa.join(pb.select("event_type", "bin", "nb"), ["event_type", "bin"], "left")
        .join(tb, "event_type")
        .select(
            "event_type",
            (
                (
                    (F.coalesce(F.col("nb"), F.lit(0)) + 1.0)
                    / (F.col("tb") + 5.0)
                    - (F.col("na") + 1.0) / (F.col("ta") + 5.0)
                )
                * F.log(
                    ((F.coalesce(F.col("nb"), F.lit(0)) + 1.0) / (F.col("tb") + 5.0))
                    / ((F.col("na") + 1.0) / (F.col("ta") + 5.0))
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.round(F.sum("term"), 4).alias("psi"),
            (F.sum("term") > 0.2).cast("int").alias("drifted"),
        )
        .orderBy("event_type")
    )


@declared(
    "q178_scalable_exact_median",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc({ORACLE_FINITE.format('value')}, 0.5)
             AS median_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q178_scalable_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median computed by distributed bisection --
    the scale-safe alternative to ``percentile``: Spark's exact
    percentile aggregate buffers every value of a group in executor
    memory (fine at q09's sizes, a wall at 100 TB group sizes), while
    this selection algorithm touches only COUNT aggregates. Per group,
    the lower median is the k-th smallest (k = ceil(n/2), DuckDB's
    quantile_disc(0.5)); rounds of 16-way multisection maintain the
    invariant count(<= lo) < k <= count(<= hi), shrinking (lo, hi] by
    16x per round, and the answer materializes as min(value > lo), all
    shuffle-free scans over one cached projection.

    Termination is PROVEN, not assumed: each round tracks c_lo =
    count(<= lo) per group, and the loop exits as soon as every group
    reaches c_lo == k-1 -- at that point min(value > lo) is the
    (c_lo+1)-th = k-th smallest by construction, independent of value
    spacing (an assumption-based fixed round count can under-resolve
    adversarially close doubles). A 12-round cap (16^12 = 2^48
    contraction of the initial range) bounds the worst case: beyond it,
    (lo, hi] is a few ulps wide and the final filter still returns
    min(value > lo) under the unbroken invariant.

    Scale notes: per round ONE count aggregate over the (group, value)
    projection (cached once, lineage cut); state per group is four
    numbers on the driver -- never a value buffer. On the driver
    testdata the exit fires after 3-4 rounds; the same loop serves
    100 TB because state and per-round cost are group-count-, not
    row-count-, shaped. This is the classic distributed selection
    recipe (bisection on the value domain with rank invariants) that
    q09's built-in cannot provide at extreme group cardinality.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        # non-finite readings are invalid measurements, NULL through the
        # rank (both sides): NaN/Inf bounds would break the interval
        # arithmetic the bisection invariant rests on (round-7 fixture)
        .select("event_type", finite_or_null(F.col("value")).alias("value"))
        .localCheckpoint(eager=True)
    )
    bounds = {
        # k ranks over NON-NULL values only (quantile_disc ignores
        # NULLs; counting all rows would shift the target rank in
        # partially-null groups), and all-null groups -- lo/hi None --
        # never enter the bisection: their median is NULL by definition
        # (degenerate-events fixture: nextafter(None) crashed here)
        r["event_type"]: (r["lo"], r["hi"], (r["nn"] + 1) // 2)
        for r in ev.groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count("value").alias("nn"),
        )
        .collect()
        if r["nn"] > 0
    }
    # seed lo STRICTLY below the group min so the invariant
    # count(<= lo) < k holds from round one: with lo == min, a group
    # whose k-th smallest IS the min (constant-valued or min-heavy
    # duplication) would never admit it through the final `value > lo`
    # filter -- the lower median can equal the minimum
    lo = {g: math.nextafter(b[0], -math.inf) for g, b in bounds.items()}
    hi = {g: b[1] for g, b in bounds.items()}
    k = {g: b[2] for g, b in bounds.items()}
    c_lo = {g: 0 for g in bounds}  # count(value <= lo), 0 by the seed above
    solved = {g: False for g in bounds}
    # a NULL group KEY (dirty data) is a legitimate group with a real
    # median -- sort None first (Python's mixed None/str sort raises),
    # and every join/comparison below is null-safe so the group flows
    # through the bisection like any other (round-7 NULL fixture)
    groups = sorted(bounds, key=lambda g: (g is not None, g))
    # 16-way multisection: 15 thresholds per round shrink (lo, hi] by 16x.
    # Two PROVEN exits, checked per group from the same aggregate pass:
    #  - c_lo == k-1: min(value > lo) is the (c_lo+1)-th = k-th smallest
    #    (fires when the k-th value's multiplicity starts at rank k);
    #  - the interval (lo, hi] holds ONE distinct data value (its min ==
    #    its max): every rank in (c_lo, count(<=hi)] belongs to that
    #    value, and c_lo < k <= count(<=hi) by the invariant -- so it IS
    #    the k-th, whatever its multiplicity (fires when duplicates
    #    straddle rank k, where the c_lo test cannot).
    # The 12-round cap bounds adversarially close doubles: beyond it the
    # final min(value > lo) still answers under the unbroken invariant.
    fan = 16
    for _ in range(12):
        if all(solved.values()):
            break
        mids = {
            g: [lo[g] + (hi[g] - lo[g]) * j / fan for j in range(1, fan)]
            for g in groups
        }
        # thresholds ride in as DATA through a broadcast join, not as
        # literals: a literal-bearing plan recompiles whole-stage codegen
        # every round (measured ~0.5 s/round); an identical plan over a
        # fresh 5-row local relation hits the codegen cache
        thr = spark.createDataFrame(
            [(g, lo[g], hi[g], *mids[g]) for g in groups],
            ", ".join(
                ["g_key string", "blo double", "bhi double"]
                + [f"m{j} double" for j in range(fan - 1)]
            ),
        )
        joined = ev.join(
            F.broadcast(thr), F.col("event_type").eqNullSafe(F.col("g_key"))
        )
        in_iv = F.when(
            (F.col("value") > F.col("blo")) & (F.col("value") <= F.col("bhi")),
            F.col("value"),
        )
        rows = {
            r["event_type"]: r
            for r in joined.groupBy("event_type")
            .agg(
                *[
                    F.sum(
                        (F.col("value") <= F.col(f"m{j}")).cast("long")
                    ).alias(f"c{j}")
                    for j in range(fan - 1)
                ],
                F.min(in_iv).alias("iv_min"),
                F.max(in_iv).alias("iv_max"),
            )
            .collect()
        }
        for g in groups:
            if solved[g]:
                continue
            r = rows.get(g)
            if r is not None and r["iv_min"] is not None and r["iv_min"] == r["iv_max"]:
                solved[g] = True  # single distinct value spans rank k
                continue
            c = [r[f"c{j}"] for j in range(fan - 1)] if r is not None else [0] * (fan - 1)
            new_lo, new_hi, new_c_lo = lo[g], hi[g], c_lo[g]
            for j in range(fan - 1):
                if c[j] >= k[g]:
                    new_hi = mids[g][j]
                    break
                new_lo = mids[g][j]
                new_c_lo = c[j]
            lo[g], hi[g], c_lo[g] = new_lo, new_hi, new_c_lo
            solved[g] = new_c_lo == k[g] - 1
    lo_col = F.coalesce(
        *[
            F.when(
                F.col("event_type").eqNullSafe(F.lit(g).cast("string")),
                F.lit(lo[g]),
            )
            for g in groups
        ],
        F.lit(None).cast("double"),
    )
    # LEFT join from the per-group counts so all-null groups (absent
    # from the bisection) still emit their row with a NULL median
    medians = (
        ev.filter(F.col("value") > lo_col)
        .groupBy(F.col("event_type").alias("m_key"))
        .agg(F.min("value").alias("median_value"))
    )
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        # null-safe join so the NULL group key keeps its computed median
        .join(
            medians,
            F.col("event_type").eqNullSafe(F.col("m_key")),
            "left",
        )
        .select("event_type", "n", "median_value")
        .orderBy("event_type")
    )


@declared(
    "q179_table_fingerprint",
    oracle="""
    WITH rows_a AS (
      SELECT (CAST(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || US || event_type || US
               || CAST(user_id AS VARCHAR) || US
               || CASE WHEN isnan(value) THEN 'NaN'
                       WHEN value = 'inf'::DOUBLE THEN 'Inf'
                       WHEN value = '-inf'::DOUBLE THEN '-Inf'
                       ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END
             ), 1, 15)) AS BIGINT)) AS h
      FROM (SELECT *, chr(31) AS US FROM events WHERE event_id < 50000)
    ),
    rows_b AS (
      SELECT (CAST(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || US || event_type || US
               || CAST(user_id AS VARCHAR) || US
               || CASE WHEN isnan(value) THEN 'NaN'
                       WHEN value = 'inf'::DOUBLE THEN 'Inf'
                       WHEN value = '-inf'::DOUBLE THEN '-Inf'
                       ELSE CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) END
             ), 1, 15)) AS BIGINT)) AS h
      FROM (SELECT *, chr(31) AS US FROM events
            WHERE event_id < 50000 AND event_id <> 42) 
    )
    SELECT 'full_vs_full' AS comparison,
           CAST(COALESCE((SELECT bit_xor(h) FROM rows_a), 0)
                = COALESCE((SELECT bit_xor(h) FROM rows_a), 0)
                AS INTEGER) AS match,
           CAST((SELECT COUNT(*) FROM rows_a) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'full_vs_dropped_row' AS comparison,
           CAST(COALESCE((SELECT bit_xor(h) FROM rows_a), 0)
                = COALESCE((SELECT bit_xor(h) FROM rows_b), 0)
                AS INTEGER) AS match,
           CAST((SELECT COUNT(*) FROM rows_b) AS BIGINT) AS n_rows
    ORDER BY comparison
    """,
)
def q179_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint -- the anti-entropy check a
    replication/migration pipeline runs to prove two copies hold the
    SAME ROWS without sorting or moving either: per-row portable hash
    over unit-separator-joined columns (floats canonicalized through
    DECIMAL(18,6) so formatting can't differ), folded with bit_xor --
    commutative/associative, so the fingerprint is partition- and
    order-independent and mergeable per shard. The query fingerprints
    the same slice twice (must match) and against a copy with one row
    dropped (must differ) -- both the positive and the sensitivity are
    under the oracle. XOR's known blind spot -- duplicate row PAIRS
    cancel -- is why the row count rides alongside; count+xor together
    detect any single-row drift.

    Scale notes: one scan + one 8-byte-per-row map-side fold per table;
    comparing two 100 TB copies costs two scans and exchanges ONE row.
    Per-partition sub-fingerprints (group by shard key) localize a
    mismatch without rescanning everything -- same mergeability as the
    sketch tier (q152/q153/b03).
    """
    from iot_data_pipeline_spark.functions.hashing import portable_hash

    us = F.lit("\x1f")
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") < 50000)

    def hashed(df: DataFrame) -> DataFrame:
        v = F.col("value")
        # A fingerprint must COVER non-finite values, not drop the row:
        # canonicalize NaN/Inf to fixed literals (the DECIMAL(18,6)
        # canonical form raises on them in both engines -- and each
        # engine renders them differently as strings, so the explicit
        # CASE keeps the hash portable; round-7 NaN fixture).
        canon_v = (
            F.when(F.isnan(v), F.lit("NaN"))
            .when(v == F.lit(float("inf")), F.lit("Inf"))
            .when(v == F.lit(float("-inf")), F.lit("-Inf"))
            .otherwise(v.cast("decimal(18,6)").cast("string"))
        )
        row = F.concat(
            F.col("event_id").cast("string"), us,
            F.col("event_type"), us,
            F.col("user_id").cast("string"), us,
            canon_v,
        )
        return df.select(portable_hash(row).alias("h"))

    def fingerprint(df: DataFrame):
        # the empty table's fingerprint is DEFINED as 0 (coalesce): two
        # empty copies must compare equal, and a NULL fold would diverge
        # from SQL NULL = NULL (which is NULL, not true) in the oracle
        r = hashed(df).agg(
            F.coalesce(F.bit_xor("h"), F.lit(0)).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return r["fp"], r["n"]

    fp_a, n_a = fingerprint(ev)
    fp_a2, _ = fingerprint(ev)
    fp_b, n_b = fingerprint(ev.filter(F.col("event_id") != 42))
    return spark.createDataFrame(
        [
            ("full_vs_dropped_row", int(fp_a == fp_b), n_b),
            ("full_vs_full", int(fp_a == fp_a2), n_a),
        ],
        "comparison string, match int, n_rows long",
    ).orderBy("comparison")


@declared(
    "q181_contribution_shares",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(o.o_totalprice) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation,
           ROUND(rev, 2) AS revenue,
           ROUND(rev / SUM(rev) OVER (PARTITION BY region), 4)
             AS share_of_region,
           ROUND(rev / SUM(rev) OVER (), 4) AS share_of_total,
           ROW_NUMBER() OVER (PARTITION BY region
                              ORDER BY rev DESC, nation) AS rank_in_region
    FROM rev ORDER BY region, rank_in_region
    """,
)
def q181_contribution_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution analysis (the percent-of-parent /
    percent-of-total BI staple): per-nation revenue with its share of
    the region, share of the grand total, and rank within region -- two
    window grains over one aggregated frame. The global-share window
    runs over the AGGREGATED rows (one per nation, ~25), not the fact
    table, so the infamous single-partition global window is harmless
    here -- the q99 prefix-sum machinery exists for when it would not
    be. Shares divide doubles aggregated identically in both engines;
    ranks carry the (rev DESC, nation) tiebreak.

    Scale notes: nation/region are TRUE dims (25/5 rows at every SF) and
    are force-broadcast; customer is FACT-SIZED (grows linearly with SF
    -- billions of rows at the 100 TB design point), so orders⋈customer
    is left to the planner: a shuffle join at scale, an AQE-elected
    broadcast at small SF. One shuffle for the (region, nation)
    aggregate; window input is dimension-sized.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy("region").orderBy(F.desc("rev"), "nation")
    return (
        rev.select(
            "region",
            "nation",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.sum("rev").over(w_region), 4).alias(
                "share_of_region"
            ),
            F.round(F.col("rev") / F.sum("rev").over(w_all), 4).alias(
                "share_of_total"
            ),
            F.row_number().over(w_rank).alias("rank_in_region"),
        )
        .orderBy("region", "rank_in_region")
    )


@declared(
    "q184_salted_join_parity",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 1000 END AS k,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    r AS (SELECT r AS k, (r % 7 + 1) AS w FROM range(1000) t(r))
    SELECT l.k % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(l.v * r.w) AS DECIMAL(28,6)) AS VARCHAR) AS weighted_sum
    FROM l JOIN r ON l.k = r.k
    GROUP BY 1 ORDER BY 1
    """,
)
def q184_salted_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted-join operator (operators/skew.py, bench-measured by
    b07) under the driver's hash gate: events keyed 90%-hot (the b07
    skew shape) salted-join a 1000-key dim with 32-way spread, and the
    aggregate must hash-match the oracle's PLAIN join -- the operator's
    exactness contract (salting may only re-partition work, never
    change the pair set) proven by the gate rather than asserted by a
    unit test. Completes the skew pair: q55 gates salted_agg, this
    gates salted_join. Values go through DECIMAL(18,6) so the sum is
    order-exact however the salt spreads partial aggregation.

    Scale notes: the replicated right side costs n_salts x |dim| rows
    (bounded, dim-shaped by contract); the hot key's probe side spreads
    over 32 tasks instead of serializing on one reducer -- the
    AQE-invisible output-amplified skew case measured in SCALE.md
    section 3.
    """
    from iot_data_pipeline_spark.operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").select(
        F.when(F.pmod("event_id", 10) < 9, F.lit(0))
        .otherwise(F.pmod("event_id", 1000))
        .cast("long")
        .alias("k"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
    )
    return (
        salted_join(ev, dim, ["k"], n_salts=32)
        .groupBy(F.pmod("k", F.lit(10)).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # exact decimal sum internally; STRING out (q72 pattern --
            # raw Decimal output defeats the driver's value-hasher)
            F.sum(F.col("v") * F.col("w"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("weighted_sum"),
        )
        .orderBy("k_bucket")
    )
