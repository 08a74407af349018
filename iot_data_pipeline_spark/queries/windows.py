"""Q15-Q21: window functions, date/time + JSON scalars, batch-mode
tumbling/sliding/session windows (SURVEY.md B24-B26, B31-B34, B38-B40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iot_data_pipeline_spark.queries.base import fmt_ts
from iot_data_pipeline_spark.queries.registry import declared
from iot_data_pipeline_spark.sources.readers import read_table


@declared(
    "q15_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3 ORDER BY o_orderpriority, rn
    """,
)
def q15_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority via ROW_NUMBER (B24/B28); orderkey
    tie-break makes the cut deterministic. Catalyst rewrites rank<=k filters
    into a per-partition top-k (WindowGroupLimit) -- no full sort of each
    group at scale."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    )


@declared(
    "q15b_rank_ntile",
    oracle="""
    SELECT c_custkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC)
    ORDER BY c_custkey
    """,
)
def q15b_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK / NTILE over customer balances (B24). RANK windows
    order by balance alone (ties share a rank -- deterministic); NTILE needs
    the total order to assign tiles stably.

    One distributed two-phase pass (operators/prefix.global_scan):
    range-partitioned on balance (ties never split), rank/dense_rank tie
    on balance alone while row_number/ntile use the c_custkey tiebreak --
    one range shuffle serves all four functions."""
    from iot_data_pipeline_spark.operators.prefix import global_scan

    customer = read_table(spark, sf_dir, "customer")
    return (
        global_scan(
            customer.select("c_custkey", "c_acctbal"),
            ["c_acctbal"],
            ascending=[False],
            ranks=True,
            ntile=4,
            tiebreak_cols=["c_custkey"],
        )
        .select(
            "c_custkey",
            F.col("rank").alias("rnk"),
            F.col("dense_rank").alias("drnk"),
            F.col("ntile").alias("quartile"),
        )
        .orderBy("c_custkey")
    )


@declared(
    "q16_lag_lead_running",
    oracle="""
    SELECT * FROM (
      SELECT user_id, event_id,
             LAG(value) OVER w AS prev_value,
             LEAD(value) OVER w AS next_value,
             ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
             ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mov_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE event_id % 9 = 0
    ORDER BY user_id, event_id
    """,
)
def q16_lag_lead_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD + running sum + 3-row moving average per user (B25/B26).
    The window partitions by user_id, so at scale this is one shuffle on
    the key and no global sort. The windows run over EVERY event (lag/
    running sum see all neighbors); only the audited output is a 1-in-9
    deterministic sample, keeping the oracle compare linear in output,
    not input."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.round(
                F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
            ).alias("run_sum"),
            F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 2).alias("mov_avg"),
        )
        .filter(F.col("event_id") % 9 == 0)
        .orderBy("user_id", "event_id")
    )


@declared(
    "q17_string_funcs",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 20)) AS head_upper,
           concat_ws('|', lang, source) AS lang_source,
           length(text) AS text_len,
           regexp_extract(text, '^([a-z]+)', 1) AS first_token,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           replace(substr(text, 1, 30), ' ', '_') AS head_snake
    FROM documents ORDER BY doc_id
    """,
)
def q17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (B31): upper/substr/concat_ws/length/
    regexp_extract/lpad/replace -- all JVM built-ins, one codegen span."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 20)).alias("head_upper"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.length("text").alias("text_len"),
        F.regexp_extract("text", "^([a-z]+)", 1).alias("first_token"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.replace(
            F.substring("text", 1, 30), F.lit(" "), F.lit("_")
        ).alias("head_snake"),
    ).orderBy("doc_id")


@declared(
    "q18_hourly_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q18_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc-hour x event_type aggregation (B32): the canonical IoT
    rollup the reference's README points at ("further analysis",
    README.md:217-225)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            fmt_ts(F.date_trunc("hour", F.col("ts"))).alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@declared(
    "q18b_date_parts",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total,
           CAST(MIN(dayofmonth(o_orderdate)) AS INTEGER) AS first_dom,
           CAST(MAX(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS INTEGER)
               AS max_days_since
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q18b_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/dayofmonth/datediff extracts (B32), int-normalized on
    both sides (DuckDB date parts are BIGINT, Spark's are INT)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min(F.dayofmonth("o_orderdate")).alias("first_dom"),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            ).alias("max_days_since"),
        )
        .orderBy("yr", "mo")
    )


@declared(
    "q19_json_extract",
    oracle="""
    WITH p AS (
      -- json_valid guard: DuckDB's json functions RAISE on malformed
      -- input where Spark's get_json_object yields NULL -- tolerance is
      -- the contract (degenerate-events fixture finding)
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS k_str
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(AVG(TRY_CAST(k_str AS INTEGER)), 2) AS avg_k,
           CAST(MIN(TRY_CAST(k_str AS INTEGER)) AS INTEGER) AS min_k,
           CAST(MAX(TRY_CAST(k_str AS INTEGER)) AS INTEGER) AS max_k
    FROM p GROUP BY event_type ORDER BY event_type
    """,
)
def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props string column (B34):
    get_json_object + try_cast (ANSI-safe), grouped stats per type."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(k), 2).alias("avg_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@declared(
    "q20_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1
    """,
)
def q20_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (B38) using Spark's window()
    expression in batch mode -- identical grouping to a streaming
    readStream.groupBy(window(...)), so the streaming path (streaming/
    windows.py) is oracle-checked through this query's equivalence.

    NULL event time is excluded EXPLICITLY on both sides: Spark's
    window() silently drops rows it cannot assign (the streaming
    semantics -- no event time, no window), while DuckDB's date_trunc
    would keep a NULL group (round-7 NULL fixture divergence). The
    filter documents the contract; it is a no-op for Spark's plan."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(fmt_ts(F.col("w.start")).alias("window_start"), "n", "total_value")
        .orderBy("window_start")
    )


@declared(
    "q20b_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP))
               // 900000000) * 900000000 - k * 900000000) AS window_start,
             value
      FROM events, (SELECT unnest([0, 1, 2, 3]::BIGINT[]) AS k)
      WHERE ts IS NOT NULL
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM slid GROUP BY 1 ORDER BY 1
    """,
)
def q20b_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m window aggregate (B39): each event belongs to 4
    windows. Spark's window(ts, '1 hour', '15 minutes') generates them
    natively; the oracle expands the same 4 offsets arithmetically.
    NULL event time excluded both sides -- same contract as q20."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(fmt_ts(F.col("w.start")).alias("window_start"), "n", "total_value")
        .orderBy("window_start")
    )


@declared(
    "q21_sessionization",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM seq
    ),
    sessions AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sess_id, COUNT(*) AS n_events,
             MAX(us) - MIN(us) AS dur_us
      FROM sessions GROUP BY user_id, sess_id
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(dur_us) AS BIGINT) AS max_session_us,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
)
def q21_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user (B40): the batch lag/cumsum
    island formulation -- identical in both engines; durations in exact
    integer microseconds so no float drift. Boundary convention: an event
    at EXACTLY prev + gap stays in the same session (new session only when
    diff > gap), matching Spark's built-in ``session_window``, whose
    observed behavior merges at the exact-gap boundary (session end =
    last_event + gap, and window-overlap inclusion is closed there).
    Spark's batch ``session_window`` is asserted equivalent to this in
    tests/test_fuzz_sessions.py."""
    ev = read_table(spark, sf_dir, "events")
    gap_us = 1_800_000_000
    # events.ts is unique per user in microseconds, so ordering by the
    # integer us (+event_id tie-break) == ordering by (ts, event_id)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wus = Window.partitionBy("user_id").orderBy("us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seq = ev.select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    ).withColumn("prev_us", F.lag("us").over(w))
    flagged = seq.withColumn(
        "new_sess",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > gap_us), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn("sess_id", F.sum("new_sess").over(wus))
    per_session = sessions.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("dur_us").cast("long").alias("max_session_us"),
            F.max("n_events").cast("long").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


@declared(
    "q16b_range_frame",
    oracle="""
    SELECT user_id, event_id, value,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 50 PRECEDING AND CURRENT ROW), 2)
             AS sum_within_50,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING) AS BIGINT)
             AS n_within_100
    FROM events WHERE event_id % 20 = 0
    ORDER BY user_id, value, event_id
    """,
)
def q16b_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window aggregates (B26): the frame is a VALUE interval
    (+-50 around the current row's value), not a row count -- peers with
    equal ordering values share one frame, which ROWS frames cannot
    express. Same single shuffle on the partition key as q16."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("value")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.sum("value").over(w.rangeBetween(-50, 0)), 2).alias(
            "sum_within_50"
        ),
        F.count(F.lit(1)).over(w.rangeBetween(-50, 50)).alias("n_within_100"),
    ).orderBy("user_id", "value", "event_id")


@declared(
    "q99_global_running_sum",
    oracle="""
    WITH r AS (
      SELECT event_id,
             SUM(value) OVER (ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING) AS rs
      FROM events
    )
    SELECT event_id, ROUND(rs, 2) AS running_sum
    FROM r WHERE event_id % 97 = 0 ORDER BY event_id
    """,
)
def q99_global_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running total over a TOTAL order (no PARTITION BY) -- the one
    window shape Spark executes on a single partition. Implemented with the
    distributed two-phase prefix scan (operators/prefix.global_scan):
    range-partition by the order key, local cumulative sums, then a
    P-value offset prefix computed in-plan and broadcast back. Sampled to
    every 97th event for the oracle compare."""
    from iot_data_pipeline_spark.operators.prefix import global_scan

    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    rs = global_scan(ev, ["event_id"], sum_cols={"running_sum": "value"})
    return (
        rs.filter(F.col("event_id") % 97 == 0)
        .select("event_id", F.round("running_sum", 2).alias("running_sum"))
        .orderBy("event_id")
    )
