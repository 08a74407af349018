"""Q5-Q12: relational core -- joins, aggregation, grouping sets, set ops,
range/as-of joins, cosine similarity (SURVEY.md section 2.2, B10-B23,
B29-B30, B14-B16, B35, B46).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.similarity import dot
from iot_data_pipeline_spark.queries.base import fmt_ts
from iot_data_pipeline_spark.queries.registry import declared
from iot_data_pipeline_spark.queries.base import valid_embeddings
from iot_data_pipeline_spark.sources.readers import read_table


@declared(
    "q05_revenue_per_nation",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    HAVING SUM(l.l_extendedprice * (1 - l.l_discount)) > 0
    ORDER BY revenue DESC, n.n_name
    """,
)
def q05_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q5-shaped 5-way star join + hash agg + HAVING.

    Scale plan: nation/region are tiny -> broadcast; customer<orders<lineitem
    joins shuffle on their keys with AQE free to pick broadcast for customer
    at small SF. Partial aggregation (map-side combine) happens automatically
    for SUM/COUNT.
    """
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(revenue, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .filter(revenue > 0)
        .orderBy(F.desc("revenue"), "n_name")
    )


@declared(
    "q06_left_join_counts",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey ORDER BY c.c_custkey
    """,
)
def q06_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping zero-order customers (B12); COUNT(col)
    ignores the NULLs the outer join manufactures."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
        .orderBy("c_custkey")
    )


@declared(
    "q06b_full_outer_join",
    oracle="""
    SELECT n.n_nationkey, n.n_name, s.n_suppliers
    FROM nation n
    FULL OUTER JOIN (
        SELECT s_nationkey, COUNT(*) AS n_suppliers
        FROM supplier GROUP BY s_nationkey
    ) s ON n.n_nationkey = s.s_nationkey
    ORDER BY n.n_nationkey NULLS LAST, s.n_suppliers
    """,
)
def q06b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (B12): nations with no suppliers keep NULL counts."""
    nation = read_table(spark, sf_dir, "nation")
    supplier = (
        read_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        nation.join(supplier, nation.n_nationkey == supplier.s_nationkey, "full")
        .select("n_nationkey", "n_name", "n_suppliers")
        .orderBy(F.col("n_nationkey").asc_nulls_last(), "n_suppliers")
    )


@declared(
    "q07_anti_join",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: LEFT ANTI join = NOT EXISTS (B13)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@declared(
    "q07b_semi_join",
    oracle="""
    SELECT p_partkey, p_brand FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    ORDER BY p_partkey
    """,
)
def q07b_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts that appear in lineitem: LEFT SEMI join = EXISTS (B13)."""
    part = read_table(spark, sf_dir, "part")
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        part.join(lineitem, part.p_partkey == lineitem.l_partkey, "left_semi")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    )


@declared(
    "q08_range_join",
    oracle="""
    WITH err AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                 WHERE event_type = 'error'),
         clk AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
                 WHERE event_type = 'click')
    SELECT e.event_id,
           (SELECT COUNT(*) FROM clk c
            WHERE c.ts >= e.ts - INTERVAL 1 HOUR
              AND c.ts <= e.ts + INTERVAL 1 HOUR) AS n_nearby
    FROM err e ORDER BY e.event_id
    """,
)
def q08_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: clicks within +-1h of each error event (B14).

    Spark-side plan is the 100 TB-safe one: instead of a quadratic
    BroadcastNestedLoopJoin, bucket both sides by hour and equi-join on the
    bucket (each click lands in its own bucket plus both neighbors via
    explode), then apply the exact range predicate. Shuffle is hash on the
    hour bucket -- linear, skew-resistant, AQE-coalesced. DuckDB's oracle
    uses its native IEJoin formulation; results are identical. The join
    is a LEFT join so errors with no click count 0; this query is the
    engine's one range join (there is no generic operator for it).
    """
    ev = read_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.unix_micros("ts").alias("e_us")
    )
    err = err.withColumn("bucket", F.expr(f"e_us div {hour_us}"))
    clk = (
        ev.filter(F.col("event_type") == "click")
        .select(F.unix_micros("ts").alias("c_us"))
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"c_us div {hour_us} - 1"),
                    F.expr(f"c_us div {hour_us}"),
                    F.expr(f"c_us div {hour_us} + 1"),
                )
            ),
        )
    )
    joined = err.join(clk, "bucket", "left").withColumn(
        "in_range",
        (F.col("c_us") >= F.col("e_us") - hour_us)
        & (F.col("c_us") <= F.col("e_us") + hour_us),
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("in_range"), 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("n_nearby")
        )
        .orderBy("event_id")
    )


@declared(
    "q08b_asof_join",
    oracle="""
    WITH u AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value AS sig_value, 0 AS is_target,
             event_id
      FROM events WHERE event_type = 'signup'
      UNION ALL
      SELECT CAST(ts AS TIMESTAMP) AS ts, NULL AS sig_value, 1 AS is_target,
             event_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, asof_value FROM (
      SELECT event_id, is_target,
             LAST_VALUE(sig_value IGNORE NULLS) OVER (
               ORDER BY ts, is_target, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
      FROM u
    ) WHERE is_target = 1 ORDER BY event_id
    """,
)
def q08b_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (B15): for each purchase, the value of the latest signup
    with ts <= purchase.ts -- the union + last_value(IGNORE NULLS) running
    sweep, identical formulation both engines.

    This variant is a GLOBAL as-of (no join key). The oracle states it as
    a single-partition window; the engine runs the distributed two-phase
    sweep instead (operators/prefix.global_fill_forward): range-partition
    on the order key, fill locally, carry P boundary values across. The
    keyed variant partitions by the join key (operators.joins.asof_join).
    """
    ev = read_table(spark, sf_dir, "events")
    sig = ev.filter(F.col("event_type") == "signup").select(
        "ts",
        F.col("value").alias("sig_value"),
        F.lit(0).alias("is_target"),
        "event_id",
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "ts",
        F.lit(None).cast("double").alias("sig_value"),
        F.lit(1).alias("is_target"),
        "event_id",
    )
    from iot_data_pipeline_spark.operators.prefix import global_fill_forward

    swept = global_fill_forward(
        sig.unionByName(pur),
        "sig_value",
        ["ts", "is_target", "event_id"],
        out_col="asof_value",
    )
    return (
        swept.filter(F.col("is_target") == 1)
        .select("event_id", "asof_value")
        .orderBy("event_id")
    )


@declared(
    "q09_lineitem_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           COUNT(DISTINCT l_partkey) AS n_parts,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(MIN(l_discount), 2) AS min_disc,
           ROUND(MAX(l_discount), 2) AS max_disc,
           ROUND(STDDEV_SAMP(l_discount), 4) AS sd_disc,
           ROUND(VAR_SAMP(l_tax), 4) AS var_tax,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 2) AS med_qty,
           strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q09_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped wide aggregate (B17-B19, B33): count, distinct count,
    sum/avg/min/max, sample stddev/variance, exact median, timestamp
    min/max as canonical strings.

    Plan note: COUNT(DISTINCT) runs in its OWN aggregation, joined back on
    the group keys. Mixed into the main agg it forces an Expand (one input
    copy per distinct group) and drags the typed percentile aggregate out
    of the hash path -- measured 4x slower at sf0.1; at 100 TB the Expand
    alone doubles the shuffle. The group-key join is tiny (one row per
    group) and broadcasts.
    """
    li = read_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    main = li.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.min("l_discount"), 2).alias("min_disc"),
        F.round(F.max("l_discount"), 2).alias("max_disc"),
        F.round(F.stddev_samp("l_discount"), 4).alias("sd_disc"),
        F.round(F.var_samp("l_tax"), 4).alias("var_tax"),
        F.round(F.percentile("l_quantity", 0.5), 2).alias("med_qty"),
        fmt_ts(F.min("l_shipdate")).alias("min_ship"),
        fmt_ts(F.max("l_shipdate")).alias("max_ship"),
    )
    distinct = li.groupBy(*keys).agg(F.countDistinct("l_partkey").alias("n_parts"))
    # Null-safe equality on the group-key re-join: a NULL group key is
    # routine dirty data, and plain equi-join (NULL != NULL) would
    # silently DROP that whole group from the result (found by the
    # round-7 NULL-bearing relational fixture). eqNullSafe keeps the
    # join broadcastable -- same tiny one-row-per-group build side.
    d2 = distinct.withColumnsRenamed({k: f"d_{k}" for k in keys})
    cond = None
    for k in keys:
        c = main[k].eqNullSafe(d2[f"d_{k}"])
        cond = c if cond is None else (cond & c)
    return (
        main.join(d2, cond)
        .select(
            *keys,
            "n",
            "n_parts",
            "sum_qty",
            "avg_price",
            "min_disc",
            "max_disc",
            "sd_disc",
            "var_tax",
            "med_qty",
            "min_ship",
            "max_ship",
        )
        .orderBy(*keys)
    )


@declared(
    "q10_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status
    FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    ORDER BY g_priority, g_status, o_orderpriority, o_orderstatus
    """,
)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING flags (B21); flags cast to INT on both sides."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
        )
        .orderBy("g_priority", "g_status", "o_orderpriority", "o_orderstatus")
    )


@declared(
    "q10b_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST
    """,
)
def q10b_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL entry point (B5, B21): the same SQL text is
    valid in both engines; Spark runs it through spark.sql on a temp view."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderpriority NULLS LAST, o_orderstatus NULLS LAST
        """
    )


@declared(
    "q10c_cube",
    oracle="""
    SELECT o_orderstatus, CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status
    FROM orders GROUP BY CUBE(o_orderstatus, YEAR(o_orderdate))
    ORDER BY g_status, o_orderstatus NULLS LAST, o_year NULLS LAST
    """,
)
def q10c_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x order-year (B21): all four grouping combinations
    in one pass -- Spark plans a single Expand + hash agg, not four scans."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
        )
        .orderBy(
            "g_status",
            F.col("o_orderstatus").asc_nulls_last(),
            F.col("o_year").asc_nulls_last(),
        )
    )


@declared(
    "q11_distinct",
    oracle="""
    SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
    """,
)
def q11_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (B23) -- a shuffle on the full row; at scale prefer
    groupBy on the explicit key set so AQE can coalesce."""
    return (
        read_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .distinct()
        .orderBy("c_mktsegment")
    )


@declared(
    "q11b_set_ops",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'union' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT 'except' AS op, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    ORDER BY op, nk
    """,
)
def q11b_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer vs supplier nation keys
    (B29-B30), tagged and stacked into one result."""
    cn = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    ).distinct()
    sn = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    ).distinct()
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nk")  # noqa: E731
    return (
        tag(cn.union(sn).distinct(), "union")
        .unionByName(tag(cn.intersect(sn), "intersect"))
        .unionByName(tag(cn.exceptAll(sn).distinct(), "except"))
        .orderBy("op", "nk")
    )


@declared(
    "q11c_dedup_events",
    oracle="""
    WITH doubled AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      UNION ALL
      SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 1 SECOND AS ts, value
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           COUNT(*) AS n_copies
    FROM doubled GROUP BY event_id ORDER BY event_id
    """,
)
def q11c_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-dedup semantics in batch form (B42/B44): events are doubled
    deterministically (every 5th id re-arrives 1s later), then deduped on
    event_id keeping the earliest ts -- groupBy.min, the scale-safe dedup
    (dropDuplicates has no 'keep first by time' guarantee)."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    dup = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 SECOND")
    )
    return (
        ev.unionByName(dup)
        .groupBy("event_id")
        .agg(
            fmt_ts(F.min("ts")).alias("first_ts"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("event_id")
    )


@declared(
    "q12_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         lbl AS (SELECT label AS qlabel FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings, lbl
           WHERE label = qlabel AND vec_id <> 0
         ),
         scored AS (
           SELECT vec_id,
                  ROUND(list_dot_product(ce, qe) /
                        (sqrt(list_dot_product(ce, ce)) * sqrt(list_dot_product(qe, qe))),
                        4) AS sim
           FROM cand, q
         )
    SELECT vec_id, sim FROM (
      SELECT vec_id, sim,
             ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5 ORDER BY sim DESC, vec_id
    """,
)
def q12_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 neighbors of vec_id=0 within its label (B16/B35/B46).

    Dot products via ``operators.similarity.dot`` (zip_with + aggregate
    in DOUBLE with sequential accumulation) -- bit-identical to DuckDB's
    list_dot_product over DOUBLE[]. Ranking uses the ROUNDED similarity with vec_id tie-break so
    the top-5 cut is stable across engines. The label filter is the
    blocking step: at 100 TB you never cross-join the full corpus -- you
    broadcast the query vector and prune by partition/label first.
    """
    emb = valid_embeddings(spark, sf_dir)
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qe"), F.col("label").alias("qlabel")
    )
    cand = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", as_double("embedding").alias("ce"), "label"
    )
    scored = (
        cand.join(F.broadcast(q), cand.label == q.qlabel)
        .withColumn(
            "sim",
            F.round(
                dot(F.col("ce"), F.col("qe"))
                / (
                    F.sqrt(dot(F.col("ce"), F.col("ce")))
                    * F.sqrt(dot(F.col("qe"), F.col("qe")))
                ),
                4,
            ),
        )
        .select("vec_id", "sim")
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-5,
    # driver merge) -- no single-partition window over the scored set.
    return scored.select("vec_id", "sim").orderBy(F.desc("sim"), "vec_id").limit(5)


@declared(
    "q37_correlated_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (
        SELECT AVG(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
    """,
)
def q37_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SURVEY.md section 4.2's "subquery
    decorrelation"): orders costing more than twice their customer's
    average. Expressed through the SQL entry point so Catalyst performs
    the decorrelation -- the optimized plan is the same agg+self-join a
    hand-written df-chain would build, but the rewrite itself is under
    test. At scale the subquery side is a partial+final agg over the
    grouping key, then an equi-join: no per-row re-execution ever happens.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS totalprice
        FROM orders o
        WHERE o.o_totalprice > 2 * (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o.o_orderkey
        """
    )


@declared(
    "q46_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q46_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping-priority query: selective segment + date
    predicates, 3-way join, hash agg, global top-10.

    Scale plan: both date filters and the segment filter are plain column
    predicates, so they push into the parquet scans (PushedFilters) and
    prune rows before the shuffle; the final top-10 compiles to
    TakeOrderedAndProject -- each partition keeps only its local 10 rows,
    the driver merges k*partitions rows, never a global sort.
    """
    customer = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(
        spark, sf_dir, "orders", bounds={"o_orderdate": (None, "1998-01-01")}
    )
    lineitem = read_table(
        spark,
        sf_dir,
        "lineitem",
        bounds={"l_shipdate": ((">", "1998-01-01"),)},
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@declared(
    "q47_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o.o_totalprice, 2) AS totalprice,
           ROUND(b.sum_qty, 2) AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    """,
)
def q47_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume-order query: aggregate-then-join.

    Scale plan: the HAVING aggregation reduces lineitem to a tiny key set
    BEFORE any join happens (map-side partial sums first), so the joins
    back to orders/customer move only qualifying orderkeys. The
    aggregate-first ordering is the difference between shuffling 100 TB of
    lineitem into a join versus shuffling a filtered key list.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("sum_qty_raw", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
    )


@declared(
    "q08c_asof_forward_tolerance",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id % 50 AS k, ts
      FROM events WHERE event_type = 'purchase' AND event_id < 20000
    ),
    r0 AS (
      SELECT user_id % 50 AS k, ts, event_id, value
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT k, ts,
             arg_min(event_id, event_id) AS r_id,
             arg_min(value, event_id) AS r_val
      FROM r0 GROUP BY k, ts
    ),
    cand AS (
      SELECT l.event_id, r.r_id, r.r_val,
             ROW_NUMBER() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts, r.r_id) AS rn
      FROM l JOIN r ON l.k = r.k
                   AND r.ts >= l.ts
                   AND r.ts <= l.ts + INTERVAL 2 HOUR
    )
    SELECT l.event_id,
           c.r_id AS next_click_id,
           ROUND(c.r_val, 2) AS next_click_value
    FROM l LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
    ORDER BY l.event_id
    """,
)
def q08c_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance bound (completes B15's API
    surface to pandas ``merge_asof`` parity: direction + tolerance): each
    purchase finds the EARLIEST click in its user bucket within the next
    2 hours, or NULL -- the 'next response after stimulus, if timely'
    lookup. The right side is pre-deduplicated to one row per (key, ts)
    by min event_id so the as-of rank has no engine-arbitrary ties
    (SURVEY section 2.3 rule 1), and unmatched purchases are retained by
    a left join back over the operator's inner result.

    Scale notes: the candidate pairing hash-joins on the bucket key; the
    tolerance bounds each window partition's candidate count (an
    unbounded forward scan would buffer arbitrarily far ahead) and is
    what permits the time-bucket equi-join rewrite at 100 TB (q08's
    hour-bucket trick applied to as-of).
    """
    from iot_data_pipeline_spark.operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    left = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") < 20000)
    ).select("event_id", (F.col("user_id") % 50).alias("k"), "ts")
    right = (
        ev.filter(F.col("event_type") == "click")
        .select((F.col("user_id") % 50).alias("k"), "ts", "event_id", "value")
        .groupBy("k", "ts")
        .agg(
            F.min("event_id").alias("r_id"),
            F.min_by("value", "event_id").alias("r_val"),
        )
    )
    matched = asof_join(
        left,
        right.withColumnRenamed("ts", "r_ts"),
        left_on="ts",
        right_on="r_ts",
        by=["k"],
        direction="forward",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    ).select("event_id", "r_id", "r_val")
    return (
        left.join(matched, "event_id", "left")
        .select(
            "event_id",
            F.col("r_id").alias("next_click_id"),
            F.round("r_val", 2).alias("next_click_value"),
        )
        .orderBy("event_id")
    )
