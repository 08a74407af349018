"""Pin the physical-plan shapes of headline queries (SURVEY.md section 4.2).

Row-correctness is gated by the DuckDB oracle; these tests gate the
*scale* properties that rows can't show: dims broadcast, filters reach
the parquet scan, scans read only needed columns, aggregation is
partial+final, and top-k plans as TakeOrderedAndProject. A regression
here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_data_pipeline_spark.queries.registry import REGISTRY
from iot_data_pipeline_spark.sources.readers import read_table
from tests.plan_inspect import (
    broadcast_join_count,
    formatted_plan,
    has_pushed_filters,
    read_schema_columns,
    shuffle_count,
    wholestage_codegen_count,
)


def q(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def test_q05_dims_broadcast_no_sortmerge(spark, sf_dir):
    df = q("q05_revenue_per_nation", spark, sf_dir)
    # customer/orders/lineitem chain joined to nation/region: at test SF
    # every dim side fits the broadcast threshold; none may sort-merge.
    assert broadcast_join_count(df) >= 3
    assert "SortMergeJoin" not in formatted_plan(df)


def test_q05_filter_pushdown(spark, sf_dir):
    assert has_pushed_filters(q("q05_revenue_per_nation", spark, sf_dir))


def test_q09_partial_final_aggregation(spark, sf_dir):
    # partial (map-side) + final HashAggregate pairs: the shuffle carries
    # one row per group per task, not one row per input row.
    plan = formatted_plan(q("q09_lineitem_agg", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_q09_column_pruning(spark, sf_dir):
    # lineitem is 16 columns; q09 touches 7 -- the scan must not read more.
    for cols in read_schema_columns(q("q09_lineitem_agg", spark, sf_dir)):
        assert len(cols) <= 8, f"scan reads dead columns: {cols}"


def test_q04_dim_join_broadcasts(spark, sf_dir):
    assert broadcast_join_count(q("q04_enrichment_join", spark, sf_dir)) >= 1


def test_topk_plans_as_take_ordered(spark, sf_dir):
    df = read_table(spark, sf_dir, "orders").orderBy(F.desc("o_totalprice")).limit(5)
    # TakeOrderedAndProject keeps k rows per partition then merges k*p on
    # the driver -- a global sort here would shuffle the whole table.
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_declared_queries_stay_in_codegen(spark, sf_dir):
    # Relational core queries must run inside WholeStageCodegen spans
    # (interpreted fallback = 10x row cost at scale).
    for name in ("q05_revenue_per_nation", "q09_lineitem_agg", "q16_lag_lead_running"):
        assert wholestage_codegen_count(q(name, spark, sf_dir)) >= 1, name


def test_codegen_count_leaves_session_conf_alone(spark, sf_dir, monkeypatch):
    """The codegen count reads the static plan without switching AQE off
    on the shared session, where every other thread's query would see
    it; every ``RuntimeConfig.set`` during the count is recorded."""
    from pyspark.sql.conf import RuntimeConfig

    df = q("q09_lineitem_agg", spark, sf_dir)
    keys: list[str] = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    assert wholestage_codegen_count(df) >= 1
    assert keys == []


def test_unbucketed_same_join_shuffles(spark, sf_dir):
    # with broadcast off, a fact-fact join off plain parquet paths
    # shuffles both sides: shuffle_count sees every plain Exchange. The
    # join plans on a session of its own, so the shared test session
    # never has broadcast switched off.
    no_broadcast = spark.newSession()
    no_broadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = read_table(no_broadcast, sf_dir, "orders").join(
        read_table(no_broadcast, sf_dir, "lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    assert shuffle_count(joined) >= 2


def test_q46_pushdown_and_topk(spark, sf_dir):
    # TPC-H Q3 shape: date/segment predicates reach the scans, the global
    # top-10 is TakeOrderedAndProject (no full sort of the agg output).
    df = q("q46_shipping_priority", spark, sf_dir)
    plan = formatted_plan(df)
    assert has_pushed_filters(df)
    assert "TakeOrderedAndProject" in plan


def test_q47_aggregates_before_join(spark, sf_dir):
    # The HAVING aggregation must sit BELOW the joins in the plan: the
    # join probes a reduced key set, not raw lineitem.
    plan = formatted_plan(q("q47_large_orders", spark, sf_dir))
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    assert agg_pos >= 0
    # formatted plans print top-down: the join appears before (above) the
    # aggregate that feeds it.
    assert join_pos < agg_pos or "Aggregate" in plan[:join_pos]


def test_q48_split_is_shuffle_minimal(spark, sf_dir):
    # hash-split assignment is row-local; the plan's only shuffles are the
    # countDistinct pre-agg, the final agg, and the output sort (each
    # Exchange prints twice in a formatted plan: tree + details).
    assert shuffle_count(q("q48_hash_split", spark, sf_dir)) <= 6


def test_q55_salted_agg_two_stages(spark, sf_dir):
    # salted agg = (key, salt) stage then key stage: two HashAggregate
    # pairs in the plan.
    plan = formatted_plan(q("q55_salted_agg", spark, sf_dir))
    assert plan.count("HashAggregate") >= 4


def test_q58_spine_join_broadcasts(spark, sf_dir):
    # the generated 72-row spine must broadcast against the hourly rollup
    # (either side); no sort-merge join for a dashboard gap-fill.
    df = q("q58_gap_fill", spark, sf_dir)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_partitioned_zone_prunes_partitions(spark, sf_dir, tmp_path):
    # partitionBy(lang) zone + lang predicate: the scan's PartitionFilters
    # must carry the predicate and the other langs' directories are
    # planned away entirely.
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    zone = str(tmp_path / "docs_by_lang")
    write_parquet(read_table(spark, sf_dir, "documents"), zone, partition_by=["lang"])
    df = spark.read.parquet(zone).filter(F.col("lang") == "en").select("doc_id")
    plan = formatted_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan
    n_en = df.count()
    n_all = spark.read.parquet(zone).count()
    assert 0 < n_en < n_all


def test_q79_derived_filters_push_to_both_scans(spark, sf_dir):
    # TPC-H Q19 shape: Catalyst must derive single-side conjuncts from the
    # OR-of-ANDs (brand IN (...) on part, quantity bounds on lineitem) and
    # push them into the parquet scans.
    df = q("q79_disjunctive_filter", spark, sf_dir)
    plan = formatted_plan(df)
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nonempty = [p for p in pushed if p.strip()]
    assert len(nonempty) >= 2, plan


def test_q78_part_side_broadcasts(spark, sf_dir):
    # part grows ~100x slower than lineitem: the promo join must broadcast
    # the dim, never shuffle the fact table.
    assert broadcast_join_count(q("q78_promo_revenue", spark, sf_dir)) >= 1


def test_q81_topk_take_ordered(spark, sf_dir):
    # top-5 suppliers: TakeOrderedAndProject, not a global sort.
    assert "TakeOrderedAndProject" in formatted_plan(
        q("q81_top_suppliers", spark, sf_dir)
    )


def test_q86_idf_join_broadcasts(spark, sf_dir):
    # the idf table (one row per distinct token) broadcasts against the
    # (doc, token) tf stream; N is a one-row broadcast.
    assert broadcast_join_count(q("q86_tfidf_top_terms", spark, sf_dir)) >= 2


def test_join_strategy_hints_respected(spark, sf_dir):
    # The engine exposes Spark's join-strategy hints as tuning knobs; the
    # optimizer must honor them (a silently ignored hint would invalidate
    # the runbook's skew remedies).
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    cond = orders.o_orderkey == lineitem.l_orderkey
    merged = orders.hint("merge").join(lineitem, cond)
    assert "SortMergeJoin" in formatted_plan(merged)
    hashed = orders.hint("shuffle_hash").join(lineitem, cond)
    assert "ShuffledHashJoin" in formatted_plan(hashed)
    bcast = orders.hint("broadcast").join(lineitem, cond)
    assert "BroadcastHashJoin" in formatted_plan(bcast)


def test_star_join_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    # The 100 TB star-schema pattern: fact partitioned on the join key,
    # dim filtered at runtime. Catalyst must inject a dynamicpruning
    # subquery into the fact scan's PartitionFilters so only the order
    # years the dim filter survives are ever listed/read -- static
    # pruning cannot see through the join.
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    zone = str(tmp_path / "orders_by_year")
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(orders, zone, partition_by=["o_year"])
    fact = spark.read.parquet(zone)
    dim = (
        orders.select(F.col("o_year").alias("y"))
        .distinct()
        .withColumn("is_current", F.col("y") >= 1998)
    )
    df = (
        fact.join(F.broadcast(dim), fact.o_year == dim.y)
        .filter(F.col("is_current"))
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = formatted_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dynamicpruning" in m.group(1), plan
    # and it actually executes with the pruned plan
    rows = {r["o_year"]: r["n"] for r in df.collect()}
    assert rows and all(y >= 1998 for y in rows)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    # The third runtime-filtering leg beside DPP and AQE: when the fact
    # side of a shuffle join is huge and the build side is selective,
    # Catalyst injects a bloom_filter_agg on the build side and a
    # might_contain() guard on the fact scan -- rows that cannot join are
    # dropped BEFORE the shuffle. At 100 TB this is the difference
    # between shuffling the whole fact table and shuffling the ~1% that
    # survives. (Thresholds lowered because injection is sized for real
    # clusters, not a 6k-row fixture.)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = formatted_plan(df)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert df.collect()[0]["n"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q116_bm25_broadcasts_stats_and_takes_ordered(spark, sf_dir):
    # term stats (df / avgdl / N) are tiny -- must broadcast into the
    # per-doc score, and the top-10 must plan as TakeOrderedAndProject,
    # never a global sort of every scored document.
    df = q("q116_bm25_scoring", spark, sf_dir)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 2
    assert "TakeOrderedAndProject" in plan


def test_q118_winnowing_windows_partition_by_doc(spark, sf_dir):
    # the gram window must partition by doc_id: a global (unpartitioned)
    # window would serialize the whole corpus through one task.
    plan = formatted_plan(q("q118_winnowing_fingerprints", spark, sf_dir))
    assert "No Partition Defined" not in plan


def test_q115_paragraph_dedup_shuffles_digests_not_text(spark, sf_dir):
    # the join/groupBy columns are md5 digests; the raw text column must
    # be pruned before the first exchange.
    plan = formatted_plan(q("q115_paragraph_dedup", spark, sf_dir))
    import re

    exchanges = [m.start() for m in re.finditer(r"Exchange", plan)]
    assert exchanges, "expected at least one shuffle"
    # 'text' may appear in scan ReadSchema but no Exchange carries it
    for seg in plan.split("Exchange")[1:]:
        head = seg[:200]  # the partitioning spec line
        assert "text#" not in head, head


def test_q145_prefix_join_shares_one_shingle_subtree(spark, sf_dir):
    # round-16: the shingle pipeline must be computed ONCE and shared --
    # before the fix every consumer subtree (dfreq aggregate, both prefix
    # self-join sides, both docset verify sides) re-scanned and re-exploded
    # the corpus (plans/r15/q145_prefix_filter_join_before.txt: 5 parallel
    # scan+explode subtrees -- a 5x corpus recompute at 100 TB). The
    # digest-level (doc_id, lang, h) frame is transient-persisted, so the
    # plan must show a single InMemoryRelation feeding every consumer.
    from iot_data_pipeline_spark.transient import release_transient_caches

    release_transient_caches()  # a foreign live cache of the same subtree
    # (e.g. an earlier test's un-released persist) would substitute into
    # this explain and break the node-id accounting below
    plan = formatted_plan(q("q145_prefix_filter_join", spark, sf_dir))
    import re

    assert "InMemoryTableScan" in plan, plan[:2000]
    # every consumer prints its own InMemoryRelation wrapper, but the
    # cached plan inside is shared: all parquet scans (and the shingle
    # Generate) must collapse to the same node ids -- the base corpus scan
    # and its filtered near-dup twin, nothing else.
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) == 2, f"expected 2 shared corpus scans: {scan_ids}"
    gen_ids = set(re.findall(r"Generate\s+\((\d+)\)", plan))
    assert len(gen_ids) == 1, f"expected ONE shared shingle explode: {gen_ids}"
    # q115's scale rule, adapted: every hash/range exchange moves 8-byte
    # digests, never shingle/document text. The one text-carrying exchange
    # allowed is the guarded round-robin spread INSIDE the cached build
    # (spread_rows no-ops once a real corpus scan is already split, so it
    # cannot become a payload funnel at scale -- spread.py's guard).
    for seg in plan.split("Exchange")[1:]:
        head = seg[:200]  # the partitioning spec line
        if "text#" in head:
            assert "RoundRobinPartitioning" in head, head


def test_q117_packing_avoids_global_window(spark, sf_dir):
    # the global running sum must run as the two-phase range scan, never a
    # single-partition window over the whole corpus.
    plan = formatted_plan(q("q117_sequence_packing", spark, sf_dir))
    import re

    for m in re.finditer(r"Window.*?windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "_pid" in spec or "partitionBy" not in spec, spec
    # stronger: every Window node partitions on something
    assert "No Partition Defined" not in plan


#: Queries whose plans legitimately contain ONE BroadcastNestedLoopJoin per
#: scalar-subquery: a 1-row aggregate (corpus total, global stats, count)
#: cross-joined into every row -- O(n) with a single broadcast row, not a
#: quadratic pairing. q12's query-side crossJoin is the documented
#: serving-shape exception (bounded query set broadcast).
BOUNDED_BNLJ = {
    "q12_cosine_topk": 1,
    "q13_corrupt_routing": 1,
    "q50_vocab_coverage": 1,
    "q80_rich_idle_customers": 1,
    "q86_tfidf_top_terms": 1,
    "q94_weighted_sample": 1,
    "q98_winsorized_values": 1,
    "q116_bm25_scoring": 2,
    "q122_mix_rebalance": 1,
    "q123_leakage_safe_split": 1,
    "q126_important_parts": 1,  # 1-row global-threshold scalar broadcast
    "q131_bpe_learn": 3,  # one 1-row winning-pair broadcast per merge round
    "q144_lsh_recall_audit": 2,  # three 1-row count aggregates cross-joined
    "q148_ivf_recall_audit": 1,  # bounded query-set broadcast (exact side)
    "q149_ivf_multiprobe_audit": 1,  # same exact-side serving shape
    "q176_retrieval_ndcg": 1,  # same exact-side serving shape (metrics)
    "q183_ivf_adaptive_probe": 1,  # same exact-side serving shape
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_nested_loop_joins(spark, sf_dir, name):
    """Sweeping guardrail: no declared query may plan a nested-loop or
    cartesian join beyond the whitelisted 1-row scalar-subquery shapes.
    A new query that accidentally cross-joins two fact tables fails here
    at test scale instead of melting at 100 TB."""
    # executedPlan tree string: one line per operator instance (the
    # formatted explain repeats names in its details section).
    plan = q(name, spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
    assert n <= BOUNDED_BNLJ.get(name, 0), (
        f"{name}: {n} nested-loop/cartesian joins "
        f"(allowed {BOUNDED_BNLJ.get(name, 0)})"
    )


def test_q125_dims_broadcast_and_part_filter_pushes(spark, sf_dir):
    # TPC-H Q2 shape: supplier/nation/region/part are all broadcast; the
    # p_size predicate must reach the part parquet scan; the per-part MIN
    # is a window over the partkey shuffle, never a re-join of a subquery.
    df = q("q125_min_cost_supplier", spark, sf_dir)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 4
    import re

    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_size" in pushed, plan


def test_q126_threshold_is_single_row_broadcast(spark, sf_dir):
    # The global-threshold gate must be a 1-row broadcast against the
    # CHECKPOINTED per-part frame: the returned plan reads the
    # materialized aggregate on both branches and never re-scans lineitem
    # (this test caught the original formulation doing exactly that).
    df = q("q126_important_parts", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_q127_distinct_pairs_collapse_before_join(spark, sf_dir):
    # The (partkey, suppkey) DISTINCT must aggregate (partial+final)
    # BEFORE the part join, and the blocklist is a broadcast anti join.
    df = q("q127_supplier_part_counts", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q128_host_extraction_stays_in_codegen(spark, sf_dir):
    # Host regexp + blocklist anti join + quota window: the only exchange
    # before the final audit aggregate is the host shuffle the window and
    # the groupBy both reuse.
    df = q("q128_domain_quota", spark, sf_dir)
    assert wholestage_codegen_count(df) >= 1
    # host hash exchange (reused by window + audit agg) and the final
    # order-by range exchange; each prints twice in a formatted plan.
    assert shuffle_count(df) <= 4, formatted_plan(df)


def test_q131_merge_rounds_bounded_broadcasts(spark, sf_dir):
    # Each BPE round's winning pair is a 1-row broadcast; the word table
    # is never re-scanned from parquet after the initial count (the
    # checkpoint boundary holds the iterated state).
    df = q("q131_bpe_learn", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan


def test_q132_model_tables_broadcast(spark, sf_dir):
    # Both LM model tables (c12 bigram counts, c1 unigram counts) are
    # vocabulary-bounded, so they must broadcast against the per-doc
    # bigram stream -- a sort-merge here would shuffle the whole corpus
    # twice more at 100 TB.
    df = q("q132_ngram_perplexity", spark, sf_dir)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_q135_video_fanout_stays_in_kernel(spark, sf_dir):
    # The clip->frame fan-out happens inside the mapInPandas kernel: the
    # plan must NOT contain a JVM-side Generate/explode of the binary
    # payload column (which would copy each clip once per frame).
    df = q("q135_y4m_frames", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Generate" not in plan, plan


def test_q136_pair_join_is_hash_on_cell(spark, sf_dir):
    # The SemDeDup candidate join must be an equi hash join on the cell
    # key -- never a nested-loop/cartesian over all vector pairs.
    df = q("q136_semdedup", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_q137_encoded_vocab_broadcasts(spark, sf_dir):
    # The word -> token-count memo table is vocabulary-bounded: it must
    # broadcast onto the corpus token stream, never sort-merge (which
    # would shuffle the full exploded corpus by word at 100 TB).
    df = q("q137_bpe_encode", spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q138_salt_key_joins_and_reaggregates(spark, sf_dir):
    # The salted join must join on (event_type, __salt) -- the salt key
    # reaching the join condition is what spreads the hot key -- and the
    # final aggregate must still be partial+final.
    df = q("q138_salted_join", spark, sf_dir)
    plan = formatted_plan(df)
    assert "__salt" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_q139_postings_capped_inside_aggregate(spark, sf_dir):
    # Posting heads are sliced inside the aggregate projection: no Window
    # operator (a per-token row_number would re-sort the token stream) and
    # no second pass over the corpus.
    df = q("q139_posting_lists", spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan


def test_q140_no_unbounded_joins(spark, sf_dir):
    # Iterations join rank<->edges co-partitioned by node; the only
    # conditionless joins are 1-row broadcasts (N, dangling mass). A
    # CartesianProduct anywhere means an unbounded pair blow-up.
    df = q("q140_pagerank", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_q143_rag_candidates_equi_join_no_python(spark, sf_dir):
    # The retrieval join must be equi on the IVF cell with the query side
    # broadcast, and the hash-embedding must be pure JVM expression work:
    # no Python workers anywhere in the plan.
    df = q("q143_rag_retrieval", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_q142_single_key_exchange(spark, sf_dir):
    # Rank-cap, re-rank, running sums, and last-row pick all share the
    # (user_id) hash partitioning: at most that one hash exchange plus
    # the final presentation sort may appear.
    df = q("q142_ewma", spark, sf_dir)
    assert shuffle_count(df) <= 4, formatted_plan(df)


def test_q145_candidates_shrink_before_verify(spark, sf_dir):
    # The prefix explode must feed an equi hash join (candidates), never
    # a nested loop; verification joins are equi on doc ids.
    df = q("q145_prefix_filter_join", spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q146_rank_prune_before_full_join(spark, sf_dir):
    # Both CDC sides reduce to one row per key BEFORE the full outer
    # join: two rank windows upstream, and the join itself is a hash
    # join (SortMergeJoin FullOuter also acceptable), not nested-loop.
    df = q("q146_cdc_apply", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Window") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_b06_encoder_python_stage_confined(spark, sf_dir):
    # The bench encoder twin (b06_rag_encoder): a model-shaped pandas-UDF
    # encoder drops into q143's retrieval plan. The Python stage must be
    # confined to computing the embedding column inside the persisted
    # embed step -- every ArrowEvalPython occurrence sits within the
    # cached relation's subtree (one per InMemoryTableScan repr), no
    # row-at-a-time BatchEvalPython, and retrieval stays an equi
    # broadcast join.
    from iot_data_pipeline_spark.operators.encoder import mlp_encode
    from iot_data_pipeline_spark.queries.llm import rag_chunks, rag_retrieve

    emb = mlp_encode(rag_chunks(spark, sf_dir)).persist()
    try:
        df = rag_retrieve(emb)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = plan.count("InMemoryTableScan")
        assert scans >= 2, plan  # both join sides read the cached embed
        assert plan.count("ArrowEvalPython") <= scans, plan
        assert "BatchEvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
    finally:
        emb.unpersist()


def test_b06_encoder_deterministic(spark, sf_dir):
    # Seeded weights regenerate identically on every worker: two
    # independent runs produce identical embeddings.
    from iot_data_pipeline_spark.operators.encoder import mlp_encode
    from iot_data_pipeline_spark.queries.llm import rag_chunks

    a = {
        (r["doc_id"], r["chunk_idx"]): tuple(r["e"])
        for r in mlp_encode(rag_chunks(spark, sf_dir)).collect()
    }
    b = {
        (r["doc_id"], r["chunk_idx"]): tuple(r["e"])
        for r in mlp_encode(rag_chunks(spark, sf_dir)).collect()
    }
    assert a == b
    # embeddings are L2-normalized and non-degenerate
    import math

    for v in list(a.values())[:20]:
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9


def test_q152_sketch_broadcast_and_partial_agg(spark, sf_dir):
    # The CMS counter build must partial-aggregate (shuffle carries <=384
    # counter rows per task, not one row per event), and the probe join
    # against the sketch must broadcast -- never shuffle the batch side.
    df = q("q152_cms_heavy_hitters", spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert broadcast_join_count(df) >= 1
    assert "SortMergeJoin" not in plan


def test_q153_bloom_filter_broadcast_probe(spark, sf_dir):
    # The Bloom word table (<=256 rows) broadcasts to the arriving batch;
    # the batch itself must not shuffle for the membership probe.
    df = q("q153_bloom_incremental_dedup", spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_q154_rerank_candidates_broadcast(spark, sf_dir):
    # Stage-1 survivors (<=3 per query chunk) are the small side of both
    # text joins: the full chunk corpus must never sort-merge against them.
    df = q("q154_rag_rerank", spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_q155_url_canonicalization_stays_jvm_side(spark, sf_dir):
    # Canonicalization is regexp/array expressions in the scan projection:
    # no Python workers (no mapInPandas/BatchEvalPython) and exactly the
    # one per-host aggregate exchange (countDistinct expands to two
    # hash-aggregate pairs over the same exchange).
    df = q("q155_url_canonicalize", spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # agg exchange + distinct expand + output sort, nothing else
    assert plan.count(") Exchange") <= 3


# (q164's per-delta broadcast joins are unobservable from the returned
# frame: each maintenance step localCheckpoints, so the final plan reads
# checkpointed RDDs -- its scale property is the fold rule itself, gated
# by the oracle's incremental==full-recompute hash instead.)


def test_q165_spatial_join_not_cartesian(spark, sf_dir):
    # the radius join must plan as an equi-join on cell coordinates --
    # a BNLJ/cartesian here would be quadratic at scale
    plan = formatted_plan(q("q165_spatial_radius_join", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q172_ohlc_partial_aggregation(spark, sf_dir):
    # min_by/max_by OHLC must partial-aggregate: the shuffle carries one
    # bar per (series, bucket) per task, not one row per tick
    plan = formatted_plan(q("q172_ohlc_resample", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_q181_star_dims_broadcast(spark, sf_dir):
    # nation and region (true constant-size dims) must broadcast; the
    # orders-customer edge is fact-fact and must NOT be pinned -- a
    # sort-merge there is the correct shape at scale, and AQE may elect
    # a broadcast at small SF. Window inputs are the ~25 aggregated
    # rows, never the fact table.
    df = q("q181_contribution_shares", spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_no_force_broadcast_of_scaling_tables():
    # Source-level discipline check (the q181 lesson): F.broadcast() may
    # wrap only sides bounded by construction -- nation/region, 1-row
    # aggregates, top-k frames, query sets. customer/part/supplier/
    # orders/lineitem grow linearly with SF; a pinned broadcast of any
    # of them OOMs at the 100 TB design point even though it passes at
    # test scale, so this greps the query sources rather than plans.
    import pathlib
    import re

    qdir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "iot_data_pipeline_spark"
    )
    # variable names bound to SF-scaling base tables across query modules
    banned = re.compile(
        r"F\.broadcast\(\s*(?:cust(?:omer)?|part|supp(?:lier)?|orders|"
        r"lineitem|li|ps)\s*[),]"
    )
    hits = []
    for path in qdir.rglob("*.py"):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if banned.search(line):
                hits.append(f"{path.name}:{i}: {line.strip()}")
    assert not hits, "force-broadcast of SF-scaling tables:\n" + "\n".join(hits)


def test_unhinted_scaling_joins_still_broadcast_at_test_sf(spark, sf_dir):
    # Companion to the source-grep discipline test: dropping the
    # F.broadcast() hints on part/supplier/customer must NOT degrade
    # small-SF plans -- Catalyst's parquet size stats elect the broadcast
    # on their own below the threshold. If this fails, the threshold or
    # stats pipeline changed and the sweep needs revisiting.
    for name in ("q78_promo_revenue", "q102_market_share"):
        assert broadcast_join_count(q(name, spark, sf_dir)) >= 1, name


def test_q190_dft_probe_scan_pruned_and_pushed(spark, sf_dir):
    """The fixed-point DFT probe must reach the parquet scan with the
    doc_id filter pushed AND a single-column ReadSchema: the kernel
    synthesizes payloads from doc_id alone, so reading any text/content
    bytes for it would be pure scan waste at 100 TB."""
    df = q("q190_interior_dft_probe", spark, sf_dir)
    assert has_pushed_filters(df), formatted_plan(df)
    cols = read_schema_columns(df)
    assert cols == [["doc_id"]], cols  # one scan, one column


def test_date_filters_push_through_timestamp_normalization(spark, sf_dir):
    """The read-boundary normalization (round 8) rewrites the canonical
    timestamp columns (ntz->ltz relabel, or LONG-nanos conversion) and
    casts DECIMAL columns to DOUBLE above the scan. Catalyst pushes
    comparison predicates through the UTC timezone-relabel cast, so date
    filters must still reach the parquet scan -- losing that is
    invisible at sf0.01 and fatal at 100 TB (no row-group pruning on
    the biggest filter columns)."""
    import re

    for table, col in (
        ("orders", "o_orderdate"),
        ("lineitem", "l_shipdate"),
        ("events", "ts"),
    ):
        df = (
            read_table(spark, sf_dir, table)
            .filter(F.col(col) >= "1996-01-01")
            .select(F.col(col))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(col in p for p in pushed), (
            f"{table}.{col} filter not pushed to scan: {pushed}"
        )


@pytest.fixture(scope="module")
def hostile_layout_dirs(sf_dir, tmp_path_factory):
    """Hostile physical re-encodings of the driver corpus (round-8
    sweep-tool builders): TIMESTAMP(NANOS) on every canonical timestamp
    column, and DECIMAL(p,s) on every money/measure column."""
    from tools.decimal_money_sweep import build_fixture as build_decimal
    from tools.tzaware_timestamps_sweep import build_nanos_fixture

    from tools.probe_fixtures import build_upper_fixture

    nanos = str(tmp_path_factory.mktemp("nanos_layout"))
    dec = str(tmp_path_factory.mktemp("decimal_layout"))
    upper = str(tmp_path_factory.mktemp("upper_layout"))
    build_nanos_fixture(nanos, src=sf_dir)
    build_decimal(dec, src=sf_dir)
    build_upper_fixture(upper, src=sf_dir)
    return {"nanos": nanos, "decimal": dec, "upper": upper}


def _pushed_segments(df) -> str:
    """All PushedFilters line segments of the executed plan. Matched to
    end-of-line, not to the closing bracket -- long filter lists are
    truncated by treeString with an ellipsis before the ']'."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return "\n".join(re.findall(r"PushedFilters: \[([^\n]*)", plan))


def test_bounds_push_to_scan_on_hostile_layouts(
    spark, sf_dir, hostile_layout_dirs
):
    """Round-9 pin for the round-8 verdict's one real gap: on a nanos- or
    DECIMAL-written corpus, a predicate applied ABOVE read_table's
    normalization sits on a conversion expression and loses
    PushedFilters (answers stay correct, scan pruning is lost -- a
    full-scan at 100 TB). ``read_table(bounds=...)`` applies the range
    in the SOURCE domain below the conversion; this pins that the
    comparison reaches the parquet scan on all three physical layouts,
    and that the selected rows are identical to the post-filter form."""
    layouts = {"default": sf_dir, **hostile_layout_dirs}
    for label, d in layouts.items():
        for table, col, lo, hi in (
            ("orders", "o_orderdate", "1996-01-01", "1996-07-01"),
            ("lineitem", "l_shipdate", "1996-01-01", None),
            ("events", "ts", "1996-01-01", None),
        ):
            bounded = read_table(spark, d, table, bounds={col: (lo, hi)})
            # case-insensitive: on the upper-cased layout the scan (and
            # therefore PushedFilters) carries the writer's spelling
            seg = _pushed_segments(bounded.select(col)).lower()
            assert f"greaterthanorequal({col}" in seg, (
                f"{label}: {table}.{col} lower bound not pushed: [{seg}]"
            )
            post = read_table(spark, d, table).filter(F.col(col) >= lo)
            if hi is not None:
                post = post.filter(F.col(col) < hi)
            assert bounded.count() == post.count(), (label, table, col)


def test_q107_all_predicates_pushed_on_every_layout(
    spark, sf_dir, hostile_layout_dirs
):
    """q107 (TPC-H Q6, the canonical pushdown probe) routes all three
    range predicates through read_table(bounds=...): date AND money
    comparisons must reach the parquet scan on the default, nanos, and
    DECIMAL physical layouts alike -- the registry-query-level pin on
    top of the read_table-level ones."""
    layouts = {"default": sf_dir, **hostile_layout_dirs}
    for label, d in layouts.items():
        df = REGISTRY["q107_forecast_revenue"].fn(spark, d)
        seg = _pushed_segments(df).lower()
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert f"({col}" in seg, (
                f"{label}: {col} predicate not pushed: [{seg}]"
            )


def test_money_bounds_push_to_scan_on_decimal_layout(
    spark, sf_dir, hostile_layout_dirs
):
    """Money-column range predicates above the DECIMAL->DOUBLE read cast
    are not unwrapped by Catalyst; the bounds path compares the raw
    DECIMAL column against a decimal literal and must stay pushed."""
    for label, d in (("default", sf_dir), ("decimal", hostile_layout_dirs["decimal"])):
        bounded = read_table(
            spark, d, "lineitem",
            bounds={"l_extendedprice": ((">", 30000.0),)},
        )
        seg = _pushed_segments(bounded.select("l_extendedprice"))
        assert "GreaterThan(l_extendedprice" in seg, (
            f"{label}: money bound not pushed: [{seg}]"
        )
        post = read_table(spark, d, "lineitem").filter(
            F.col("l_extendedprice") > 30000.0
        )
        assert bounded.count() == post.count(), label


def test_registry_pushdown_discipline_on_composed_corpus(
    spark, sf_dir, tmp_path_factory
):
    """Round-10 mechanization of the round-9 point-fix (verdict task 1):
    EVERY registry query, planned against the composed nanos+DECIMAL
    corpus, must show no column-vs-literal comparison on a canonical
    timestamp/money column that sits in a Filter without a same-class
    entry in PushedFilters. The round-9 bounds migration fixed 9 hot
    queries by hand; this sweep makes the whole class of bug -- a
    literal slice evaluated above the read-boundary conversion, losing
    parquet row-group pruning on a hostile physical layout -- impossible
    to reintroduce anywhere in the registry without a red test. Sweep
    semantics and known imprecision: tools/pushdown_sweep.py docstring.
    On first freeze it found q64/q146 (snapshot-vs-changelog ts slices)
    and q79 (the derived TPC-H-Q19 quantity envelope); all migrated to
    read_table(bounds=...)."""
    from iot_data_pipeline_spark.queries import REGISTRY
    from tools.pushdown_sweep import audit_query, build_fixture

    d = str(tmp_path_factory.mktemp("pushdown_corpus"))
    build_fixture(d, src=sf_dir)
    failures = {}
    for name in REGISTRY:
        try:
            problems = audit_query(spark, name, d)
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION {type(e).__name__}: {str(e)[:300]}"]
        if problems:
            failures[name] = problems
    assert not failures, failures


def test_bounds_session_tz_coherent_on_nanos_layout(
    spark, hostile_layout_dirs
):
    """Round-10 (r9 ADVICE): the bounds literal for a LONG-nanos layout
    is built from Spark's own string->timestamp cast, so it resolves in
    spark.sql.session.timeZone exactly like the non-bigint branch and
    the equivalent post-read filter. The r9 shape (a Python-side UTC
    epoch conversion) diverged from the post-filter by the session
    offset whenever the session tz wasn't UTC. Pin: under a +14 session,
    bounded == post-filter on the nanos corpus for a cutoff inside the
    data range -- and the window is proven discriminating by differing
    from the UTC-session count (so coherence cannot pass vacuously)."""
    d = hostile_layout_dirs["nanos"]
    lo, hi = "2024-01-10", "2024-01-20"

    def counts():
        bounded = read_table(spark, d, "events", bounds={"ts": (lo, hi)})
        post = read_table(spark, d, "events").filter(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
        )
        return bounded.count(), post.count()

    utc_bounded, utc_post = counts()
    assert utc_bounded == utc_post
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try:
        k_bounded, k_post = counts()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert k_bounded == k_post, (k_bounded, k_post)
    assert k_bounded != utc_bounded, (
        "test window not discriminating: +14 and UTC selected the same "
        f"rows ({k_bounded})"
    )


@pytest.fixture(scope="module")
def date_split_table_dirs(sf_dir, tmp_path_factory):
    """8 date-ordered part files per layout -- the natural ingest-by-day
    multi-file layout file-level pruning exists for."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/lineitem.parquet").sort_by("l_shipdate")
    n = src.num_rows
    out = {}
    for variant, typ in (("ntz", None), ("nanos", pa.timestamp("ns"))):
        d = str(tmp_path_factory.mktemp(f"datesplit_{variant}"))
        tdir = os.path.join(d, "lineitem.parquet")
        os.makedirs(tdir)
        t = src
        if typ is not None:
            i = t.column_names.index("l_shipdate")
            t = t.set_column(i, "l_shipdate", t.column("l_shipdate").cast(typ))
        cut = [round(k * n / 8) for k in range(9)]
        for k in range(8):
            pq.write_table(
                t.slice(cut[k], cut[k + 1] - cut[k]),
                os.path.join(tdir, f"part-{k}.parquet"),
            )
        out[variant] = d
    return out


def test_bounds_file_level_pruning_on_unprunable_encodings(
    spark, date_split_table_dirs
):
    """Round-10 found-and-fixed (tools/rowgroup_pruning_probe.py): Spark's
    parquet reader converts pushed timestamp predicates into row-group
    filters ONLY for isAdjustedToUTC µs/ms columns -- on the driver
    corpus's NTZ encoding and on the NANOS layout, PushedFilters lists
    the predicate but every row group is read. read_table(bounds=...)
    therefore FILE-prunes multi-file tables from footer stats (the same
    min/max the row-group filter would have used). Pin: on an 8-file
    date-ordered corpus, a half-year slice reads a strict subset of the
    files and returns exactly the post-filter rows; a no-match slice
    returns an empty frame."""
    from tools.rowgroup_pruning_probe import scan_rows

    lo, hi = "1996-01-01", "1996-07-01"
    for variant, d in date_split_table_dirs.items():
        bnd = read_table(spark, d, "lineitem", bounds={"l_shipdate": (lo, hi)})
        post = read_table(spark, d, "lineitem").filter(
            (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
        )
        total = post.count()
        # the scan-level metric: rows actually READ. The post-filter form
        # reads the whole corpus on these encodings (parquet declines the
        # row filter); the bounded form reads only the surviving files.
        read_post, read_bnd = scan_rows(post), scan_rows(bnd)
        assert read_bnd < read_post, (variant, read_bnd, read_post)
        assert read_bnd <= read_post // 2, (variant, read_bnd, read_post)
        assert bnd.count() == total, variant
        empty = read_table(
            spark, d, "lineitem", bounds={"l_shipdate": ("2035-01-01", None)}
        )
        assert empty.count() == 0, variant


def test_bounds_file_pruning_is_conservative(spark, sf_dir, tmp_path):
    """Files whose footer stats are missing for the bounded column must
    be KEPT (pruning may only drop files that provably cannot match),
    and single-file tables bypass the footer pass entirely."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/events.parquet")
    d = str(tmp_path)
    tdir = os.path.join(d, "events.parquet")
    os.makedirs(tdir)
    half = src.num_rows // 2
    pq.write_table(src.slice(0, half), os.path.join(tdir, "part-0.parquet"))
    # second file: ts all NULL -> no min/max stats for the bounded column
    t = src.slice(half)
    i = t.column_names.index("ts")
    t = t.set_column(i, "ts", pa.nulls(t.num_rows, pa.timestamp("us")))
    pq.write_table(t, os.path.join(tdir, "part-1.parquet"))

    from iot_data_pipeline_spark.sources.readers import _prune_files_for_ts_bounds

    pruned = _prune_files_for_ts_bounds(
        spark, tdir, {"ts": [("<", "2035-01-01")]}
    )
    assert pruned is None, "stats-less file kept -> nothing prunable -> full read"
    bnd = read_table(spark, d, "events", bounds={"ts": (("<", "2035-01-01"),)})
    assert bnd.count() == half  # NULL ts rows fail the predicate itself

    # single-file table: the footer pass is bypassed entirely
    single = _prune_files_for_ts_bounds(
        spark, f"{sf_dir}/events.parquet", {"ts": [("<", "2035-01-01")]}
    )
    assert single is None


def test_bounds_file_pruning_distributed_path(spark, sf_dir, tmp_path):
    """Above 64 part files the footer pass distributes over the
    executors (a driver-side loop over thousands of footers would be the
    bottleneck the pruning exists to remove). 80-file date-ordered
    corpus: the same slice, the same exact rows, a strict file subset."""
    import os

    import pyarrow.parquet as pq

    from tools.rowgroup_pruning_probe import scan_rows

    src = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    n = src.num_rows
    d = str(tmp_path)
    tdir = os.path.join(d, "events.parquet")
    os.makedirs(tdir)
    cut = [round(k * n / 80) for k in range(81)]
    for k in range(80):
        pq.write_table(
            src.slice(cut[k], cut[k + 1] - cut[k]),
            os.path.join(tdir, f"part-{k:03d}.parquet"),
        )
    lo, hi = "2024-01-10", "2024-01-12"
    bnd = read_table(spark, d, "events", bounds={"ts": (lo, hi)})
    post = read_table(spark, d, "events").filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)
    )
    assert bnd.count() == post.count()
    read_bnd, read_post = scan_rows(bnd), scan_rows(post)
    assert read_bnd < read_post // 4, (read_bnd, read_post)


def test_atomic_zone_read_keeps_pushdown(spark, sf_dir, tmp_path):
    """Pointer resolution is a pure path swap ahead of the scan, so an
    atomically-published zone must keep the exact pushdown shape a
    plain directory gets: bare attribute filters in PushedFilters,
    single-snapshot InMemoryFileIndex (never a cross-version union)."""
    import re

    from iot_data_pipeline_spark.sources.readers import read_table
    from iot_data_pipeline_spark.sources.sinks import write_parquet

    d = str(tmp_path / "zone")
    ev = read_table(spark, sf_dir, "events")
    write_parquet(ev, f"{d}/events.parquet", atomic=True)
    write_parquet(ev, f"{d}/events.parquet", atomic=True)  # v=1 current
    df = read_table(spark, d, "events", bounds={"value": ((">=", 100.0),)})
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "GreaterThanOrEqual(value,100.0)" in pushed, plan
    # the scan lists the CURRENT snapshot only (the plan string
    # truncates Location; inputFiles() names the actual scan files)
    files = df.inputFiles()
    assert files and all("/v=1/" in f for f in files), files[:3]
