"""Every declared query hash-matches its DuckDB oracle at sf0.001 (the t2
contract, SURVEY.md section 2.3, run at the smoke scale so the suite stays
fast; the driver repeats this at sf0.01)."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare_query, duck_connection


def _names():
    from iot_data_pipeline_spark.queries import REGISTRY

    return list(REGISTRY)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _names())
def test_declared_query_matches_oracle(spark, duck, sf_dir, name):
    problems = compare_query(spark, duck, name, sf_dir)
    assert not problems, problems


def test_q178_median_equals_min_edge_groups(spark, tmp_path):
    """Regression for the round-4 advisor finding: groups whose lower
    median EQUALS the minimum (constant-valued, or min-duplicated past
    rank k) previously fell out of q178's bisection -- lo was seeded AT
    the min, so the final `value > lo` filter excluded the true median
    (constant groups vanished entirely via the inner join). The fixture
    forces all three shapes; the oracle comparison is the assertion."""
    import duckdb

    d = str(tmp_path)
    duckdb.sql(f"""
    COPY (
      SELECT * FROM (
        SELECT CAST(i AS BIGINT) AS event_id,
               TIMESTAMP '2024-01-01' + INTERVAL (i) SECOND AS ts,
               CAST(i % 7 AS BIGINT) AS user_id, 'const' AS event_type,
               5.0 AS value, '{{}}' AS props
        FROM range(20) t(i)
        UNION ALL
        SELECT CAST(100 + i AS BIGINT), TIMESTAMP '2024-01-01',
               CAST(i AS BIGINT), 'minheavy',
               CASE WHEN i < 12 THEN 1.5 ELSE 1.5 + i END, '{{}}'
        FROM range(20) t(i)
        UNION ALL
        SELECT CAST(200 + i AS BIGINT), TIMESTAMP '2024-01-01',
               CAST(i AS BIGINT), 'normal', CAST(i AS DOUBLE) * 1.1, '{{}}'
        FROM range(21) t(i)
      )
    ) TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{d}/events.parquet'"
    )
    problems = compare_query(spark, con, "q178_scalable_exact_median", d)
    con.close()
    assert not problems, problems


_SHORT_DOC_QUERIES = [
    "q17b_token_counts",
    "q22_exact_dedup",
    "q23_minhash_lsh",
    "q24_simhash_pairs",
    "q25_ngram_jaccard",
    "q27_langid",
    "q28_quality_score",
    "q29_doc_fingerprint",
    "q44_repetition_ratio",
    "q45_stopword_charset",
    "q52_dup_clusters",
    "q109_decontamination",
    "q110_length_trim",
    "q114_pii_redaction",
    "q115_paragraph_dedup",
    "q116_bm25_scoring",
    "q118_winnowing_fingerprints",
    "q120_char_entropy",
    "q121_repetition_rules",
    "q123_leakage_safe_split",
    "q131_bpe_learn",
    "q132_ngram_perplexity",
    "q144_lsh_recall_audit",
    "q145_prefix_filter_join",
    "q156_incremental_lsh",
    "q192_lsh_hot_bucket",
]


@pytest.fixture(scope="module")
def short_doc_dir(spark, tmp_path_factory):
    """Adversarial documents the driver fixture never contains: empty
    text, whitespace-only, single-token, double-space (empty middle
    token), plus two normal docs. Round-6 audit: this fixture found four
    crashing queries (ANSI division by zero in q45, Spark's
    sequence(1, 0) AUTO-DESCENDING to [1, 0] so 1-2 token docs indexed
    past the token array in every shingle pipeline) and one cross-engine
    divergence (the near-dup corpus twin of a <=3-token doc is '' in
    Spark's concat_ws but NULL in DuckDB's array_to_string)."""
    import duckdb

    d = str(tmp_path_factory.mktemp("short_docs"))
    duckdb.sql(f"""
    COPY (
      SELECT * FROM (VALUES
        (0, '', 'en', 'src0', 0),
        (1, ' ', 'en', 'src0', 1),
        (2, 'one', 'de', 'src1', 3),
        (3, 'a  b', 'de', 'src1', 4),
        (4, 'normal text with several words here', 'en', 'src2', 35),
        (5, 'zzz zzz zzz zzz', 'fr', 'src2', 15)
      ) t(doc_id, text, lang, source, n_chars)
    ) TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    return d


@pytest.fixture(scope="module")
def short_doc_duck(short_doc_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{short_doc_dir}/documents.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _SHORT_DOC_QUERIES)
def test_text_queries_survive_degenerate_documents(
    spark, short_doc_duck, short_doc_dir, name
):
    problems = compare_query(spark, short_doc_duck, name, short_doc_dir)
    assert not problems, problems


_DEGENERATE_EVENT_QUERIES = [
    "q11c_dedup_events",
    "q18_hourly_counts",
    "q19_json_extract",
    "q20_tumbling_window",
    "q20b_sliding_window",
    "q21_sessionization",
    "q55_salted_agg",
    "q58_gap_fill",
    "q59_forward_fill",
    "q60_value_windows",
    "q63_json_struct",
    "q65_rolling_zscore",
    "q68_histogram",
    "q84_variant_json",
    "q91_funnel_stages",
    "q92_cohort_retention",
    "q93_event_transitions",
    "q98_winsorized_values",
    "q99_global_running_sum",
    "q142_ewma",
    "q152_cms_heavy_hitters",
    "q172_ohlc_resample",
    "q175_drift_psi",
    "q178_scalable_exact_median",
]


@pytest.fixture(scope="module")
def degenerate_events_dir(spark, tmp_path_factory):
    """Adversarial events the driver fixture never contains: a
    single-event user, two events EXACTLY at the session-gap boundary,
    NULL-value runs (one event_type entirely NULL), malformed and empty
    JSON props, and a sparse normal user. Round-6 audit findings: strict
    parse_json (q84) and the DuckDB json functions (q19/q63 oracles)
    raise on malformed props where tolerance is the contract; Spark's
    min_by picks NULL ticks DuckDB's arg_min skips (q172); salted_agg's
    count-of-column skipped NULL-value events vs COUNT(*) (q55); q178
    crashed on an all-NULL group and mis-ranked partially-NULL ones.
    Side tables come from sf0.001 so multi-table queries still run."""
    import shutil

    import duckdb

    d = str(tmp_path_factory.mktemp("degenerate_events"))
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet")
    duckdb.sql(f"""
    COPY (
      SELECT CAST(event_id AS BIGINT) AS event_id, ts,
             CAST(user_id AS BIGINT) AS user_id,
             event_type, CAST(value AS DOUBLE) AS value, props
      FROM (VALUES
        (0, TIMESTAMP '2024-01-01 00:00:00', 1, 'click', 1.5, '{{}}'),
        (1, TIMESTAMP '2024-01-01 00:00:00', 2, 'click', 2.0, '{{"a": 1}}'),
        (2, TIMESTAMP '2024-01-01 00:30:00', 2, 'view', NULL, '{{"a": [1,2]}}'),
        (3, TIMESTAMP '2024-01-01 01:00:00', 3, 'purchase', NULL, 'not json'),
        (4, TIMESTAMP '2024-01-01 01:00:01', 3, 'purchase', NULL, ''),
        (5, TIMESTAMP '2024-01-01 01:00:02', 3, 'error', 0.0,
         '{{"nested": {{"k": "v"}}}}'),
        (6, TIMESTAMP '2024-01-02 10:00:00', 4, 'click', -3.25, '{{}}'),
        (7, TIMESTAMP '2024-01-02 10:05:00', 4, 'click', 10.0, '{{}}'),
        (8, TIMESTAMP '2024-01-02 12:00:00', 4, 'signup', 7.5, '{{}}'),
        (9, TIMESTAMP '2024-01-03 09:00:00', 4, 'view', 4.25, '{{}}')
      ) t(event_id, ts, user_id, event_type, value, props)
    ) TO '{d}/events.parquet' (FORMAT PARQUET)
    """)
    return d


@pytest.fixture(scope="module")
def degenerate_events_duck(degenerate_events_dir):
    con = duck_connection(degenerate_events_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _DEGENERATE_EVENT_QUERIES)
def test_event_queries_survive_degenerate_events(
    spark, degenerate_events_duck, degenerate_events_dir, name
):
    problems = compare_query(
        spark, degenerate_events_duck, name, degenerate_events_dir
    )
    assert not problems, problems


_DEGENERATE_EMBEDDING_QUERIES = [
    "q12_cosine_topk",
    "q26_embedding_neardup",
    "q31_ann_ivf",
    "q36_array_funcs",
    "q54_lsh_buckets",
    "q97_embedding_standardize",
    "q100_crossmodal_neardup",
    "q112_kmeans_clusters",
    "q133_image_dedup",
    "q136_semdedup",
    "q141_quality_aware_dedup",
    "q143_rag_retrieval",
    "q148_ivf_recall_audit",
    "q149_ivf_multiprobe_audit",
    "q154_rag_rerank",
    "q176_retrieval_ndcg",
    "q183_ivf_adaptive_probe",
]


@pytest.fixture(scope="module")
def degenerate_embeddings_dir(spark, tmp_path_factory):
    """Adversarial embeddings: an all-zero vector, a NULL array, an array
    with a NULL element, NaN/+Inf/-Inf elements, an extreme-but-finite
    magnitude vector, plus six valid 4-dim vectors. Round-7 finding: NaN
    compares GREATER than zero in both engines, so the valid-embeddings
    guard's bare ``norm > 0`` admitted NaN/Inf vectors and 12 of 17
    embedding queries diverged -- the guard now requires a FINITE
    positive norm (queries/base.py + operators/similarity._normed).
    Round-6 findings:
    nine similarity queries crashed (ANSI norm division by zero, DuckDB
    list functions raising on NULL elements) before every
    embeddings-reading query was routed through the valid-embeddings
    guard (queries/base.valid_embeddings + the registry's
    valid_embeddings_sql oracle rewrite); q54's numpy kernel also
    crashed on any non-64-dim vector until its dimension contract became
    an explicit filter. The real testdata has no such rows, so the guard
    is a pure no-op there (asserted by the unchanged sf0.01 gates)."""
    import shutil

    import duckdb

    d = str(tmp_path_factory.mktemp("degenerate_embeddings"))
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "events",
    ):
        shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet")
    duckdb.sql(f"""
    COPY (
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(embedding AS FLOAT[]) AS embedding,
             CAST(label AS INTEGER) AS label
      FROM (VALUES
        (0, [1.0, 0.0, 0.5, -0.5], 0),
        (1, [0.9, 0.1, 0.4, -0.6], 0),
        (2, [0.0, 0.0, 0.0, 0.0], 0),
        (3, NULL, 1),
        (4, [0.2, -0.8, NULL, 0.3], 1),
        (5, [-1.0, 0.5, 0.2, 0.9], 1),
        (6, [0.3, 0.3, 0.3, 0.3], 2),
        (7, [0.31, 0.29, 0.3, 0.3], 2),
        (8, [0.5, -0.5, 0.25, 0.75], 2),
        (9, [CAST('nan' AS FLOAT), 0.1, 0.2, 0.3], 0),
        (10, [CAST('inf' AS FLOAT), 0.0, 0.1, 0.0], 1),
        (11, [CAST('-inf' AS FLOAT), 1.0, 0.0, 0.0], 2),
        -- off-dimension vectors (round 7): an encoder version change
        -- mid-ingest; excluded by the modal-dimension rule (ANSI
        -- element_at and numpy stacking crash on them otherwise)
        (13, [0.5, -0.5], 1),
        (14, [0.5, -0.5, 0.25, 0.75, 0.1], 2),
        -- extreme-but-finite magnitudes pass the guard (legit vector);
        -- 3e6 is the largest class the registry's DECIMAL-exactness
        -- mechanisms cover: q112 squares into DECIMAL(28,12) (|x| up to
        -- ~1e7) and the portable-round recipe is DECIMAL(38,18)
        -- (|v| < 1e20). An encoder emitting beyond that is broken data
        -- the guard intentionally does NOT hide.
        (12, [3.0e6, 3.0e6, 0.0, 0.0], 2)
      ) t(vec_id, embedding, label)
    ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
    """)
    return d


@pytest.fixture(scope="module")
def degenerate_embeddings_duck(degenerate_embeddings_dir):
    con = duck_connection(degenerate_embeddings_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _DEGENERATE_EMBEDDING_QUERIES)
def test_embedding_queries_survive_degenerate_vectors(
    spark, degenerate_embeddings_duck, degenerate_embeddings_dir, name
):
    problems = compare_query(
        spark, degenerate_embeddings_duck, name, degenerate_embeddings_dir
    )
    assert not problems, problems


@pytest.fixture(scope="module")
def dup_embedding_dir(tmp_path_factory):
    """Duplicate-heavy vector corpus (round 8): 400 exact copies of one
    unit vector + a 100-copy second cluster + 1,500 distinct vectors.
    The orthogonal cardinality hazard to the malformed-vector fixture
    above: k-means with fewer distinct points than centroids (empty
    clusters), IVF with one cell swallowing the corpus, SemDeDup cells
    full of EXACT distance ties (prune order must be id-deterministic).
    17/17 clean first try -- the r6/r7 guards generalized."""
    from tools.dup_embedding_sweep import build_fixture

    d = str(tmp_path_factory.mktemp("dup_embedding"))
    build_fixture(d)
    return d


@pytest.fixture(scope="module")
def dup_embedding_duck(dup_embedding_dir):
    con = duck_connection(dup_embedding_dir)
    yield con
    con.close()


def _dup_embedding_query_names():
    from tools.dup_embedding_sweep import EMBEDDING_QUERIES

    return EMBEDDING_QUERIES


@pytest.mark.parametrize("name", _dup_embedding_query_names())
def test_embedding_queries_survive_mass_duplicates(
    spark, dup_embedding_duck, dup_embedding_dir, name
):
    problems = compare_query(
        spark, dup_embedding_duck, name, dup_embedding_dir
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# Multi-file table layout: at 100 TB every table is thousands of part
# files, and file-boundary partials merge in a different order than a
# single-file scan. The full-registry sweep is the one-shot tool
# (tools/multifile_layout_sweep.py, re-run per round with the config
# sweeps); frozen here is the band the layout axis actually perturbs --
# every ROUND(SUM(double)) query certified as order-safe, plus q78, the
# query the round-8 sweep caught flipping a cent through layout alone
# (fixed via the q164 exact-DECIMAL recipe).


@pytest.fixture(scope="module")
def multifile_layout_dir(tmp_path_factory):
    from tools.multifile_layout_sweep import build_fixture

    d = str(tmp_path_factory.mktemp("multifile_layout"))
    build_fixture(d, src="/root/testdata/sf0.01")
    return d


@pytest.fixture(scope="module")
def multifile_layout_duck(multifile_layout_dir):
    from tools.multifile_layout_sweep import duck_connection_glob

    con = duck_connection_glob(multifile_layout_dir)
    yield con
    con.close()


def _multifile_band_names():
    from iot_data_pipeline_spark.queries import REGISTRY
    from tests.oracle_harness import ROUND_SUM_CERTIFIED

    names = set(ROUND_SUM_CERTIFIED) | {"q78_promo_revenue"}
    return sorted(n for n in names if n in REGISTRY)


@pytest.mark.recert
@pytest.mark.parametrize("name", _multifile_band_names())
def test_round_sum_band_survives_multifile_layout(
    spark, multifile_layout_duck, multifile_layout_dir, name
):
    problems = compare_query(
        spark, multifile_layout_duck, name, multifile_layout_dir
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# Narrowed physical types: parquet INT32 keys where the driver data has
# INT64 (schema-on-read reality; value-identical). Full-registry sweep is
# tools/narrowed_types_sweep.py (re-run per round); frozen here is the
# staged-streaming band, where round 8 caught q177's fixture mixing
# int32 data-batch footers with int64 sentinel literals under
# mergeSchema=false (fixed: staging normalizes ids to bigint).


@pytest.fixture(scope="module")
def narrowed_types_dir(tmp_path_factory):
    from tools.narrowed_types_sweep import build_fixture

    d = str(tmp_path_factory.mktemp("narrowed_types"))
    build_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def narrowed_types_duck(narrowed_types_dir):
    con = duck_connection(narrowed_types_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q14_streaming_ingest",
        "q34_stateful_device_state",
        "q53_stream_stream_join",
        "q167_incremental_rollup",
        "q177_stream_outer_join",
        "q182_stream_enrichment",
        "q189_dedup_within_watermark",
        "q191_watermark_late_drop",
        # hash/fingerprint queries: the other family whose results could
        # have depended on physical int width (they don't -- verified)
        "q48_hash_split",
        "q179_table_fingerprint",
    ],
)
def test_staged_stream_band_survives_narrowed_types(
    spark, narrowed_types_duck, narrowed_types_dir, name
):
    problems = compare_query(
        spark, narrowed_types_duck, name, narrowed_types_dir
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# Timestamp physical encodings: tz-aware (isAdjustedToUTC=true -- the
# INSTANT logical type a Spark/Flink writer emits) and TIMESTAMP(NANOS)
# (reads as LONG under nanosAsLong; by-name normalization from the
# canonical schema). Same instants either way. Full-registry sweep is
# tools/tzaware_timestamps_sweep.py [--nanos]; frozen here is the
# timestamp-heavy band. Round-8 finds: q172's oracle leaked a '+00'
# suffix through CAST(.. AS VARCHAR) on the tz-aware corpus (fixed:
# strftime), and the nanos corpus crashed every orders/lineitem
# date_trunc because only events.ts was being converted from bigint
# (fixed: read_table normalizes all of TIMESTAMP_COLUMNS).


@pytest.fixture(
    scope="module", params=["tzaware", "nanos"], ids=["tzaware", "nanos"]
)
def tzaware_dir(request, tmp_path_factory):
    from tools.tzaware_timestamps_sweep import (
        build_fixture,
        build_nanos_fixture,
    )

    d = str(tmp_path_factory.mktemp("ts_encoding"))
    if request.param == "nanos":
        build_nanos_fixture(d, src="/root/testdata/sf0.001")
    else:
        build_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def tzaware_duck(tzaware_dir):
    con = duck_connection(tzaware_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q172_ohlc_resample",
        "q18_hourly_counts",
        "q18b_date_parts",
        "q20_tumbling_window",
        "q20b_sliding_window",
        "q21_sessionization",
        "q08_range_join",
        "q08b_asof_join",
        "q58_gap_fill",
        "q59_forward_fill",
        "q75_scd2_intervals",
        "q92_cohort_retention",
        "q142_ewma",
        "q179_table_fingerprint",
    ],
)
def test_timestamp_band_survives_tzaware_encoding(
    spark, tzaware_duck, tzaware_dir, name
):
    problems = compare_query(spark, tzaware_duck, name, tzaware_dir)
    assert not problems, problems


# ---------------------------------------------------------------------------
# DECIMAL-typed money columns (parquet DECIMAL(12,2)/(8,4)/(18,6) where
# the driver data has DOUBLE): the most common alternate writer choice.
# The read boundary normalizes both sides to DOUBLE (read_table cast +
# duck_connection view cast), making the registry invariant to the
# writer's numeric physical type; without it, decimal propagated into
# final projections (raw-DecimalType output) and decimal-vs-double sums
# split in the last ulp. Full-registry sweep: tools/decimal_money_sweep.


@pytest.fixture(scope="module")
def decimal_money_dir(tmp_path_factory):
    from tools.decimal_money_sweep import build_fixture

    d = str(tmp_path_factory.mktemp("decimal_money"))
    build_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def decimal_money_duck(decimal_money_dir):
    con = duck_connection(decimal_money_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q05_revenue_per_nation",
        "q09_lineitem_agg",
        "q15_topk_per_group",
        "q46_shipping_priority",
        "q56_stats_agg",
        "q68_histogram",
        "q72_decimal_exact",
        "q78_promo_revenue",
        "q98_winsorized_values",
        "q101_volume_shipping",
        "q142_ewma",
        "q164_ivm_join_view",
        "q181_contribution_shares",
    ],
)
def test_money_band_survives_decimal_physical_type(
    spark, decimal_money_duck, decimal_money_dir, name
):
    problems = compare_query(
        spark, decimal_money_duck, name, decimal_money_dir
    )
    assert not problems, problems


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_q178_median_random_fuzz(spark, tmp_path, seed):
    """Seeded random fuzz of the multisection median against an
    INDEPENDENT Python oracle (sorted-list rank pick, no SQL engine):
    tie-heavy value pools, adversarially close doubles, NULL runs, an
    all-NULL group, a single-row group, and a NULL group KEY -- the
    round-6 lesson that hand-rolled distributed operators earn a
    random-data oracle, applied to the most delicate one. The lower
    median is the k-th smallest non-null value (k = ceil(n_nonnull/2)),
    an actual data value, so equality is exact."""
    import math
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(seed)
    rows = []
    groups = ["a", "b", "ties", "close", "nullish", None]
    for i in range(600):
        g = rng.choice(groups)
        if g == "ties":
            v = rng.choice([1.5, 1.5, 1.5, 2.5, 7.0])
        elif g == "close":
            v = 1.0 + rng.randrange(4) * 5e-16
        elif g == "nullish":
            v = None if rng.random() < 0.7 else rng.uniform(-5, 5)
        else:
            v = None if rng.random() < 0.15 else rng.uniform(-100, 100)
        rows.append((i, g, v))
    rows.append((9000, "solo", 42.0))
    rows.append((9001, "allnull", None))
    rows.append((9002, "allnull", None))

    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": [r[0] % 13 for r in rows],
            "event_type": [r[1] for r in rows],
            "value": [r[2] for r in rows],
            "props": "{}",
        }
    )
    d = str(tmp_path)
    duckdb.sql(f"COPY (SELECT * FROM df) TO '{d}/events.parquet' (FORMAT PARQUET)")

    expected = {}
    for g in set(r[1] for r in rows):
        vals = sorted(r[2] for r in rows if r[1] == g and r[2] is not None)
        n_all = sum(1 for r in rows if r[1] == g)
        med = vals[math.ceil(len(vals) / 2) - 1] if vals else None
        expected[g] = (n_all, med)

    from iot_data_pipeline_spark.queries import REGISTRY

    out = {
        r["event_type"]: (r["n"], r["median_value"])
        for r in REGISTRY["q178_scalable_exact_median"].fn(spark, d).collect()
    }
    assert out == expected


# ---------------------------------------------------------------------------
# Empty-input suite: every table 0 rows, exact driver schemas.

_EMPTY_TABLE_QUERIES = [
    # the nine queries the round-7 empty sweep broke, pinned as fixed:
    # four UNABLE_TO_INFER_SCHEMA zones (q14/q69/q167/q182 -- partitioned
    # writes of 0 rows emit no files; fixed by seed_zone_schema), two
    # fixture-shape asserts (q168/q171), the q177 staged builder's None
    # max-ts, q179's NULL bit_xor fold (Python None == None is True, SQL
    # NULL = NULL is NULL), and q131's oracle fabricating NULL merge steps
    "q14_streaming_ingest",
    "q69_partitioned_sink",
    "q131_bpe_learn",
    "q167_incremental_rollup",
    "q168_backfill_derived_zone",
    "q171_compaction",
    "q177_stream_outer_join",
    "q179_table_fingerprint",
    "q182_stream_enrichment",
    # one representative per operator family (all passed the full-registry
    # sweep; kept as regression tripwires without re-running all 204)
    "q01_ingest_project",
    "q05_revenue_per_nation",
    "q08b_asof_join",
    "q09_lineitem_agg",
    "q11c_dedup_events",
    "q12_cosine_topk",
    "q15_topk_per_group",
    "q19_json_extract",
    "q21_sessionization",
    "q22_exact_dedup",
    "q23_minhash_lsh",
    "q192_lsh_hot_bucket",
    "q25_ngram_jaccard",
    "q27_langid",
    "q31_ann_ivf",
    "q33_pandas_token_stats",
    "q50_vocab_coverage",
    "q59_forward_fill",
    "q86_tfidf_top_terms",
    "q99_global_running_sum",
    "q112_kmeans_clusters",
    "q140_pagerank",
    "q150_chain_components",
    "q178_scalable_exact_median",
]


@pytest.fixture(scope="module")
def empty_tables_dir(tmp_path_factory):
    """Every table present but 0 rows, schemas copied byte-exact from the
    driver's sf0.001 parquet via pyarrow (re-writing through an engine
    could alter logical types). The scale story this guards: at 100 TB an
    empty slice is routine (a source day with no data, a filter that
    matches nothing, a drained stream), and round 7's sweep found four
    derived-zone pipelines that became UNREADABLE on it plus three
    quieter divergences -- all invisible at every non-empty test scale."""
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("empty_tables"))
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{d}/{t}.parquet")
    return d


@pytest.fixture(scope="module")
def empty_tables_duck(empty_tables_dir):
    con = duck_connection(empty_tables_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _EMPTY_TABLE_QUERIES)
def test_queries_survive_empty_tables(
    spark, empty_tables_duck, empty_tables_dir, name
):
    problems = compare_query(spark, empty_tables_duck, name, empty_tables_dir)
    assert not problems, problems


# ---------------------------------------------------------------------------
# Degenerate-relational suite: adversarial customer/orders/lineitem.

@pytest.fixture(
    scope="module",
    params=["base", "nulls", "dims", "nan", "skew", "tiny"],
    ids=["base", "nulls", "dims", "nan", "skew", "tiny"],
)
def degenerate_relational_dir(request, tmp_path_factory):
    """Adversarial relational tables the driver generator never emits:
    a customer with zero orders, an order with zero lineitems, orphan
    lineitems (missing order), exact ties in every ranking dimension,
    boundary dates ON the queries' filter constants, zero quantity, 100%
    discount, duplicate line content, empty-string categoricals -- plus
    a NULL-bearing variant (NULLs in every value column) and a dims
    variant that additionally replaces part/supplier with adversarial
    dimension tables (ties, NULL size/brand/acctbal/nationkey, orphan
    rows, empty-string names; 54/54 clean first try -- the base/nulls
    fixes generalized), and a nan variant adding non-finite money values
    (NaN price, Inf totalprice): DuckDB's moment aggregates RAISE on NaN
    input (q56 -- pairwise-FINITE deletion now mirrors pairwise-NULL
    deletion) and both engines' DECIMAL casts raise on Inf (q72/q164 --
    non-finite money is a NULL measurement via finite_or_null). The
    round-7
    sweeps over all 54 relational-oracle queries found five real bug
    classes: two ANSI DIVIDE_BY_ZERO crashes (q56 corr on a
    zero-variance group, q125 unit price of a zero-quantity line, both
    fixed via try_divide to match the oracle's NULL-and-skip semantics),
    q09's COUNT(DISTINCT) re-join dropping NULL-keyed groups (plain
    equi-join; fixed with eqNullSafe), q56's corr rewrite needing
    PAIRWISE deletion (regr_s* co-moments, not stddev_pop), and q73's
    NULL boolean aggregates rendering asymmetrically through pandas
    (COALESCE the predicates to FALSE both sides).

    Round 8 adds two orthogonal cardinality axes, both 54/54 clean first
    try (the r6/r7 fixes generalized): ``skew`` is a volumetric hot-key
    fixture (20k orders / 80k lineitems; 90% of orders on one customer,
    85% of lineitems on one part/supplier, one 5k-line order, tie groups
    thousands deep; money on exact binary grids so double SUMs are
    order-invariant exactly) that engages AQE skew splitting and
    perturbs partial-agg merge order mechanically; ``tiny`` is ONE row
    per fact table (single-element corr/stddev/percent_rank/median and
    single-group windows -- the degenerate-convention band)."""
    from tools.degenerate_relational_sweep import (
        build_fixture,
        build_skew_fixture,
        build_tiny_fixture,
    )

    d = str(tmp_path_factory.mktemp("degenerate_relational"))
    if request.param == "skew":
        build_skew_fixture(d)
    elif request.param == "tiny":
        build_tiny_fixture(d)
    else:
        build_fixture(
            d,
            with_nulls=request.param in ("nulls", "dims", "nan"),
            with_degenerate_dims=request.param in ("dims", "nan"),
            with_nan_money=request.param == "nan",
        )
    return d


@pytest.fixture(scope="module")
def degenerate_relational_duck(degenerate_relational_dir):
    con = duck_connection(degenerate_relational_dir)
    yield con
    con.close()


def _relational_query_names():
    from tools.degenerate_relational_sweep import RELATIONAL_QUERIES

    return RELATIONAL_QUERIES


@pytest.mark.recert
@pytest.mark.parametrize("name", _relational_query_names())
def test_queries_survive_degenerate_relational(
    spark, degenerate_relational_duck, degenerate_relational_dir, name
):
    problems = compare_query(
        spark, degenerate_relational_duck, name, degenerate_relational_dir
    )
    assert not problems, problems


# ---------------------------------------------------------------------------
# NULL-bearing documents/events suite: NULLs in the columns the round-6
# degenerate fixtures never nulled out (documents.text/lang/source/n_chars,
# events.ts/user_id/event_type/props).


@pytest.fixture(
    scope="module", params=["nulls", "nulls+nan", "skew"],
    ids=["nulls", "nulls+nan", "skew"],
)
def null_doc_event_dir(request, tmp_path_factory):
    """Round-7 sweep findings frozen here (10 real divergences in one
    pass): Spark's window() drops NULL event time where DuckDB's
    date_trunc keeps a NULL group (q20/q20b -- explicit ts IS NOT NULL
    contract both sides); NULL map keys raise NULL_MAP_KEY (q32);
    pandas-UDF int64 cast crashes on None (q33); posexplode_outer keeps
    NULL-list rows the oracle's empties branch missed (q70); DuckDB json
    functions raise on malformed props where Spark NULLs (q90 oracle
    guard); NULL group keys crashed q178's driver-side sort and fell out
    of its equi-joins (None-safe sort + eqNullSafe); NULL text through
    fingerprint/bloom pipelines (q29/q153 -- excluded both sides, also
    avoiding the pandas NULL-int float64 trap); empty assembled strings
    md5('') vs DuckDB's NULL array_to_string (q158); a NULL type-sum
    poisoning q32's map-values fold (SQL SUM skip-NULL semantics).

    The nulls+nan variant adds NaN/+Inf/-Inf event values (the routine
    failure modes of a physical sensor stream): ONE NaN reading crashed
    every rounded-aggregate oracle through the VARCHAR->DECIMAL portable
    -round path (now isfinite-guarded centrally in
    registry.portable_round_sql), the statistics queries
    (q68/q98/q175/q178) treat non-finite as NULL measurements both
    sides (base.finite_or_null), and q179's fingerprint canonicalizes
    them to fixed literals so integrity checks COVER bad readings
    instead of crashing on them.

    The skew variant (round 8) is volumetric hot keys: one user owns
    90% of 50k events in one dense multi-day session, one event type
    carries 85% of rows, and the 5k-doc corpus holds a 300-copy
    duplicate cluster -- giant per-key window/session state, hot sketch
    keys, bucket-path volume. Finding frozen here: q35's sqrt/ln over a
    negative measurement diverges at the ENGINE level (Spark NaN/NULL
    vs DuckDB OutOfRange raise); out-of-domain input is now a NULL
    measurement via explicit CASE guards both sides -- the driver data's
    non-negative sensor values had masked the entire domain-error
    class behind q35's event_id filter.

    Probe-only class (passed 100/100 with no fix needed, not frozen):
    100%-NULL columns (every events.value NULL, every documents.lang
    NULL) -- the all-None pandas dtype-collapse hazard does not bite
    because aggregates NULL out identically both sides."""
    from tools.degenerate_null_doc_event_sweep import (
        build_fixture,
        build_skew_fixture,
    )

    d = str(tmp_path_factory.mktemp("null_doc_event"))
    if request.param == "skew":
        build_skew_fixture(d)
    else:
        build_fixture(d, with_nan=request.param == "nulls+nan")
    return d


@pytest.fixture(scope="module")
def null_doc_event_duck(null_doc_event_dir):
    con = duck_connection(null_doc_event_dir)
    yield con
    con.close()


def _null_doc_event_query_names():
    from tools.degenerate_null_doc_event_sweep import (
        DOC_QUERIES,
        EVENT_QUERIES,
    )

    return DOC_QUERIES + EVENT_QUERIES


@pytest.mark.recert
@pytest.mark.parametrize("name", _null_doc_event_query_names())
def test_queries_survive_null_docs_and_events(
    spark, null_doc_event_duck, null_doc_event_dir, name
):
    problems = compare_query(
        spark, null_doc_event_duck, name, null_doc_event_dir
    )
    assert not problems, problems


def test_case_mapping_divergence(spark, empty_tables_duck):
    """Documented cross-engine divergence, pinned so a library change in
    either engine surfaces: the JVM applies Unicode FULL and
    context-sensitive case mappings while DuckDB (without ICU) applies
    simple 1:1 folding. Three canonical witnesses:

    - lower('İ') U+0130: Java 'i'+U+0307 (2 code points), DuckDB 'i';
    - lower('ΟΔΟΣ'): Java word-final sigma 'οδος' (ς), DuckDB 'οδοσ';
    - upper('ß'): Java 'SS' (full mapping), DuckDB 'ẞ' (U+1E9E).

    Every other Unicode class the round-7 sweep threw at the text band
    (emoji/surrogates, CJK, combining accents, full-width forms, RTL)
    agrees cross-engine and is folded into the doc/event fixture; these
    three code points are deliberately excluded from fixtures, the same
    posture as the ROLLUP-over-empty pin below."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("ΟΔΟΣ", "İ", "ß")], "a string, b string, c string")
    row = df.select(
        F.lower("a"), F.length(F.lower("b")), F.upper("c")
    ).collect()[0]
    assert row[0] == "οδος" and row[0][-1] == "ς"
    assert row[1] == 2  # i + combining dot above
    assert row[2] == "SS"
    drow = empty_tables_duck.execute(
        "SELECT lower('ΟΔΟΣ'), length(lower('İ')), upper('ß')"
    ).fetchone()
    assert drow[0] == "οδοσ"
    assert drow[1] == 1
    assert drow[2] == "ẞ"


def test_rollup_over_empty_diverges_from_sql_standard(spark, empty_tables_duck):
    """Documented cross-engine divergence, pinned so a Spark behavior
    change surfaces: SQL-standard GROUPING SETS semantics (DuckDB,
    PostgreSQL) emit the grand-total row -- the () grouping set -- even
    over empty input, while Catalyst's grouping-sets expansion (Expand +
    group on grouping_id) yields 0 rows. q10/q10b/q10c therefore
    hash-match only on non-empty input (every driver scale qualifies);
    on empty input the engines disagree BY DESIGN and the three queries
    are excluded from the suite above."""
    assert (
        spark.sql("SELECT count(*) FROM range(0) GROUP BY ROLLUP(id)").count()
        == 0
    )
    assert (
        empty_tables_duck.execute(
            "SELECT count(*) FROM range(0) GROUP BY ROLLUP(range)"
        ).df().shape[0]
        == 1
    )


def test_modal_dim_memo_invalidates_on_corpus_rewrite(spark, tmp_path):
    """The modal-dimension memo is keyed by the parquet's stat
    fingerprint, not just the directory path (round-7 advice): if a
    corpus is rewritten in place within one driver session -- the
    write-once assumption breaking -- valid_embeddings must re-derive
    the modal dimension instead of silently filtering on the stale one
    while the DuckDB oracle recomputes it fresh."""
    import duckdb

    from iot_data_pipeline_spark.queries.base import valid_embeddings

    d = str(tmp_path)

    def write(dim: int) -> None:
        duckdb.sql(f"""
        COPY (
          SELECT CAST(range AS BIGINT) AS vec_id,
                 CAST([0.5 + range + x FOR x IN range({dim})] AS FLOAT[])
                   AS embedding,
                 CAST(range % 3 AS INTEGER) AS label
          FROM range(5)
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """)

    write(3)
    first = valid_embeddings(spark, d)
    assert first.count() == 5
    assert {r[0] for r in first.selectExpr("size(embedding)").collect()} == {3}

    write(4)  # same path, same row count -- only the dimension changes
    second = valid_embeddings(spark, d)
    assert second.count() == 5, (
        "stale modal-dim memo: the rewritten corpus's rows were filtered "
        "against the previous corpus's dimension"
    )
    assert {r[0] for r in second.selectExpr("size(embedding)").collect()} == {4}


# ---------------------------------------------------------------------------
# Mass-duplicate corpus: the round-8 skew theme as a CORRECTNESS fixture.

_DUP_HEAVY_QUERIES = list(_SHORT_DOC_QUERIES)


@pytest.fixture(scope="module")
def dup_heavy_doc_dir(spark, tmp_path_factory):
    """A corpus that is MOSTLY one document: 12 of 20 docs share one text,
    4 share another, 4 unique -- the duplicate-cluster shape of a real
    crawl, as a correctness probe (tools/skew_sweep.py, historical: since
    deleted, measured the same shape for wall time). Every dedup/near-dup/fingerprint query must
    agree with DuckDB on the blown-up pair/cluster enumeration, and the
    statistics queries must not let the dominant document distort
    per-doc aggregates."""
    import duckdb

    d = str(tmp_path_factory.mktemp("dup_heavy_docs"))
    duckdb.sql(f"""
    COPY (
      SELECT CAST(i AS BIGINT) AS doc_id,
             CASE WHEN i < 12 THEN 'the same boilerplate page body repeated across mirrors again'
                  WHEN i < 16 THEN 'a second smaller cluster of identical docs here'
                  ELSE 'unique document number ' || i || ' with its own words entirely'
             END AS text,
             CASE WHEN i % 2 = 0 THEN 'en' ELSE 'de' END AS lang,
             'src' || (i % 3) AS source,
             CAST(CASE WHEN i < 12 THEN 62 WHEN i < 16 THEN 48
                  ELSE 45 END AS BIGINT) AS n_chars
      FROM range(20) t(i)
    ) TO '{d}/documents.parquet' (FORMAT PARQUET)
    """)
    return d


@pytest.fixture(scope="module")
def dup_heavy_doc_duck(dup_heavy_doc_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM '{dup_heavy_doc_dir}/documents.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", _DUP_HEAVY_QUERIES)
def test_text_queries_survive_mass_duplicates(
    spark, dup_heavy_doc_duck, dup_heavy_doc_dir, name
):
    problems = compare_query(spark, dup_heavy_doc_duck, name, dup_heavy_doc_dir)
    assert not problems, problems


# ---------------------------------------------------------------------------
# Round-9 frozen bands for the formerly probe-only invariance axes
# (round-8 verdict task 6) plus the DECIMAL(18,0)-key layout (task 3).
# Builders live in tools/probe_fixtures.py / tools/decimal_money_sweep.py;
# the representative bands are duplicated there -- keep in sync.


@pytest.fixture(scope="module")
def reversed_rows_dir(tmp_path_factory):
    from tools.probe_fixtures import build_reversed_fixture

    d = str(tmp_path_factory.mktemp("reversed_rows"))
    build_reversed_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def reversed_rows_duck(reversed_rows_dir):
    con = duck_connection(reversed_rows_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        # tie-sensitive shapes: windows, top-k, dedup representatives,
        # order-dependent fills, as-of matches, exact medians
        "q15_topk_per_group",
        "q15b_rank_ntile",
        "q43_percent_rank",
        "q16_lag_lead_running",
        "q59_forward_fill",
        "q66_arg_extremes",
        "q67_sorted_list_agg",
        "q22_exact_dedup",
        "q178_scalable_exact_median",
        "q11_distinct",
        "q08b_asof_join",
        "q21_sessionization",
    ],
)
def test_order_sensitive_band_survives_reversed_rows(
    spark, reversed_rows_duck, reversed_rows_dir, name
):
    """Every table rewritten back-to-front: the answer must not depend on
    physical row order (within-partition arrival order at scale). The
    round-8 one-shot probe ran the full registry 205/205; this band keeps
    the most order-sensitive shapes regression-guarded between rounds."""
    problems = compare_query(spark, reversed_rows_duck, name, reversed_rows_dir)
    assert not problems, problems


@pytest.fixture(scope="module")
def float64_emb_dir(tmp_path_factory):
    from tools.probe_fixtures import build_float64_fixture

    d = str(tmp_path_factory.mktemp("float64_emb"))
    build_float64_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def float64_emb_duck(float64_emb_dir):
    con = duck_connection(float64_emb_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q31_ann_ivf",
        "q97_embedding_standardize",
        "q136_semdedup",
        "q141_quality_aware_dedup",
        "q143_rag_retrieval",
        "q148_ivf_recall_audit",
        "q154_rag_rerank",
        "q176_retrieval_ndcg",
        "q183_ivf_adaptive_probe",
    ],
)
def test_similarity_band_survives_float64_embeddings(
    spark, float64_emb_duck, float64_emb_dir, name
):
    """embeddings.embedding stored as array<double> (a writer that never
    narrowed) instead of the driver's array<float>: every similarity/ANN
    kernel must be element-width-agnostic. Round-8 probe: 17/17."""
    problems = compare_query(spark, float64_emb_duck, name, float64_emb_dir)
    assert not problems, problems


@pytest.fixture(scope="module")
def allnull_cols_dir(tmp_path_factory):
    from tools.probe_fixtures import build_allnull_fixture

    d = str(tmp_path_factory.mktemp("allnull_cols"))
    build_allnull_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def allnull_cols_duck(allnull_cols_dir):
    con = duck_connection(allnull_cols_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q27_langid",
        "q28_quality_score",
        "q45_stopword_charset",
        "q122_mix_rebalance",
        "q128_domain_quota",
        "q16b_range_frame",
        "q56_stats_agg",
        "q68_histogram",
        "q98_winsorized_values",
        "q20_tumbling_window",
    ],
)
def test_band_survives_allnull_value_and_lang(
    spark, allnull_cols_duck, allnull_cols_dir, name
):
    """events.value and documents.lang 100% NULL: the all-None pandas
    dtype-collapse hazard on the Arrow fetch path, NULL language groups,
    and aggregates over an entirely-NULL measure. Round-8 probe:
    100/100."""
    problems = compare_query(spark, allnull_cols_duck, name, allnull_cols_dir)
    assert not problems, problems


@pytest.fixture(scope="module")
def decimal_key_dir(tmp_path_factory):
    from tools.decimal_money_sweep import build_fixture

    d = str(tmp_path_factory.mktemp("decimal_keys"))
    build_fixture(d, src="/root/testdata/sf0.001", with_keys=True)
    return d


@pytest.fixture(scope="module")
def decimal_key_duck(decimal_key_dir):
    con = duck_connection(decimal_key_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        # key-join / key-group shapes: the rows that corrupt first if a
        # DECIMAL(18,0) key were narrowed through double
        "q05_revenue_per_nation",
        "q46_shipping_priority",
        "q64_upsert_merge",
        "q76_priority_exists",
        "q77_customer_distribution",
        "q103_returned_items",
        "q111_dominant_suppliers",
        "q11c_dedup_events",
        "q22_exact_dedup",
        "q119_incremental_dedup",
        "q179_table_fingerprint",
    ],
)
def test_key_band_survives_decimal18_keys(
    spark, decimal_key_duck, decimal_key_dir, name
):
    """Every BIGINT surrogate/join key stored as parquet DECIMAL(18,0)
    (the classic NUMBER(18) warehouse export): the read boundary must
    cast scale-0 decimals to BIGINT -- a DOUBLE cast silently corrupts
    keys above 2**53 and every join on them. Full-registry sweep:
    tools/decimal_money_sweep.py --keys (round 9, 205/205)."""
    problems = compare_query(spark, decimal_key_duck, name, decimal_key_dir)
    assert not problems, problems


@pytest.fixture(
    scope="module",
    params=["colorder", "extracol", "upper"],
    ids=["colorder", "extracol", "upper"],
)
def boundary_layout_dir(request, tmp_path_factory):
    from tools.probe_fixtures import (
        build_colorder_fixture,
        build_extracol_fixture,
        build_upper_fixture,
    )

    build = {
        "colorder": build_colorder_fixture,
        "extracol": build_extracol_fixture,
        "upper": build_upper_fixture,
    }[request.param]
    d = str(tmp_path_factory.mktemp("boundary_layout"))
    build(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def boundary_layout_duck(boundary_layout_dir):
    con = duck_connection(boundary_layout_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "q51_csv_roundtrip",
        "q74_orc_roundtrip",
        "q87_xml_roundtrip",
        "q69_partitioned_sink",
        "q01_ingest_project",
        "q05_revenue_per_nation",
        "q09_lineitem_agg",
        "q19_json_extract",
        "q31_ann_ivf",
        "q170_custom_datasource",
        "q179_table_fingerprint",
    ],
)
def test_boundary_band_survives_permuted_and_extended_schemas(
    spark, boundary_layout_duck, boundary_layout_dir, name
):
    """Reversed parquet column order / one trailing unknown column: every
    read/write boundary must bind by NAME, never position, and hold its
    contract when the writer's footer differs from the canonical schema.
    The round-9 column-order sweep caught q51's CSV staging writing
    source-footer order under a by-position declared-schema read
    (silently swapped keys); the writer now pins the CSV column order."""
    problems = compare_query(
        spark, boundary_layout_duck, name, boundary_layout_dir
    )
    assert not problems, problems


@pytest.fixture(scope="module")
def unicode_docs_dir(tmp_path_factory):
    from tools.probe_fixtures import build_unicode_fixture

    d = str(tmp_path_factory.mktemp("unicode_docs"))
    build_unicode_fixture(d, src="/root/testdata/sf0.001")
    return d


@pytest.fixture(scope="module")
def unicode_docs_duck(unicode_docs_dir):
    con = duck_connection(unicode_docs_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        # text-UNIT-sensitive shapes: lengths, tokens, shingles,
        # fingerprints, entropy -- Spark strings are UTF-16 JVM strings,
        # DuckDB's are UTF-8, and this suffix (NFD combining sequence,
        # astral emoji = surrogate pair, RTL mark, ZWJ, non-BMP letter)
        # is where unit choices diverge. Round-12 probe: 21/21 (the
        # engines agree on every unit the registry actually uses;
        # grapheme-level functions like reverse() DO diverge between
        # engines on combining sequences -- measured, no registry
        # exposure).
        "q17b_token_counts",
        "q27_langid",
        "q29_doc_fingerprint",
        "q23_minhash_lsh",
        "q24_simhash_pairs",
        "q25_ngram_jaccard",
        "q110_length_trim",
        "q118_winnowing_fingerprints",
        "q120_char_entropy",
        "q131_bpe_learn",
        "q137_bpe_encode",
    ],
)
def test_text_band_survives_hostile_unicode(
    spark, unicode_docs_duck, unicode_docs_dir, name
):
    """documents.text with an NFD-combining/astral/RTL/ZWJ suffix on
    every row: length, shingling, tokenization, and fingerprint
    semantics must agree across engines on text whose codepoint,
    UTF-8-byte, and UTF-16-unit counts all differ (round-12 axis)."""
    problems = compare_query(spark, unicode_docs_duck, name, unicode_docs_dir)
    assert not problems, problems
