"""Unit tests for the reusable operator layer and function library."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    kgrams,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_hashes,
)
from iot_data_pipeline_spark.operators.joins import asof_join
from iot_data_pipeline_spark.operators.multimodal import (
    extract_features,
    with_media_metadata,
)
from iot_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_blocked,
    cosine_topk_pandas,
)
from iot_data_pipeline_spark.operators.stateful import last_state_batch
from iot_data_pipeline_spark.sources.readers import read_table


def ts(h, m=0):
    return dt.datetime(2026, 1, 1, h, m)


# ---------------------------------------------------------------- joins


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            Row(sym="A", t=ts(10, 0), px=100.0),
            Row(sym="A", t=ts(10, 30), px=101.0),
            Row(sym="B", t=ts(10, 15), px=50.0),
            Row(sym="C", t=ts(9, 0), px=7.0),
        ]
    )


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            Row(sym="A", qt=ts(9, 50), bid=99.0),
            Row(sym="A", qt=ts(10, 20), bid=100.5),
            Row(sym="A", qt=ts(11, 0), bid=102.0),
            Row(sym="B", qt=ts(10, 0), bid=49.5),
        ]
    )


def test_asof_backward(trades, quotes):
    got = {
        (r["sym"], r["t"]): r["bid"]
        for r in asof_join(trades, quotes, "t", "qt", by=["sym"]).collect()
    }
    # latest quote <= trade time, per symbol; C has no quote -> absent (inner)
    assert got == {
        ("A", ts(10, 0)): 99.0,
        ("A", ts(10, 30)): 100.5,
        ("B", ts(10, 15)): 49.5,
    }


def test_asof_forward(trades, quotes):
    got = {
        (r["sym"], r["t"]): r["bid"]
        for r in asof_join(trades, quotes, "t", "qt", by=["sym"], direction="forward").collect()
    }
    assert got == {
        ("A", ts(10, 0)): 100.5,
        ("A", ts(10, 30)): 102.0,
    }


def test_asof_keep_unmatched(trades, quotes):
    """keep_unmatched=True emits left rows with no candidate once, with
    NULL right columns (merge_asof's keep-everything shape); matched
    rows are identical to the default inner pairing."""
    got = {
        (r["sym"], r["t"]): r["bid"]
        for r in asof_join(
            trades, quotes, "t", "qt", by=["sym"], keep_unmatched=True
        ).collect()
    }
    assert got == {
        ("A", ts(10, 0)): 99.0,
        ("A", ts(10, 30)): 100.5,
        ("B", ts(10, 15)): 49.5,
        ("C", ts(9, 0)): None,  # no quote for C: kept, null-extended
    }


# ---------------------------------------------------------------- dedup


def test_exact_dedup_null_safety(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, a="ab", b="c"),
            Row(id=2, a="a", b="bc"),  # concat-collision candidate
            Row(id=3, a="ab", b="c"),  # true dup of 1
            Row(id=4, a=None, b="x"),
            Row(id=5, a=None, b="x"),  # dup of 4 (NULL-safe)
        ]
    )
    kept = sorted(r["id"] for r in exact_dedup(df, ["a", "b"], "id").collect())
    assert kept == [1, 2, 4]


def test_exact_dedup_null_id_contract_observed(spark):
    """Round-10 (r9 ADVICE): NULL-id rows violate exact_dedup's contract
    and are dropped pre-shuffle; the drop must be SURFACED via the
    observe metric, not only inferable from row counts."""
    df = spark.createDataFrame(
        [
            Row(id=1, a="x", b="y"),
            Row(id=None, a="x", b="y"),
            Row(id=None, a="q", b="r"),
        ]
    )
    out = exact_dedup(df, ["a", "b"], "id")
    assert sorted(r["id"] for r in out.collect()) == [1]
    jmetrics = out._jdf.queryExecution().observedMetrics()
    it = jmetrics.keysIterator()
    observed = {}
    while it.hasNext():
        k = it.next()
        row = jmetrics.apply(k)
        observed[k] = row.getLong(row.fieldIndex("null_id_rows"))
    assert len(observed) == 1, observed
    (name, null_rows), = observed.items()
    assert name.startswith("exact_dedup_contract_"), name
    assert null_rows == 2, observed


@pytest.mark.parametrize("k", [2, 3, 8])
def test_kgrams_match_python_reference(spark, k):
    """Word k-grams over documents of 0, 1, k-1, k and k+1 tokens equal a
    plain-Python sliding window; a document shorter than k (or a NULL
    token array) has none. The
    k-1 document is the case an unguarded index would get wrong: Spark's
    ``sequence(1, 0)`` auto-descends to ``[1, 0]``."""
    assert spark.range(1).select(
        F.sequence(F.lit(1), F.lit(0)).alias("s")
    ).first()["s"] == [1, 0]

    docs = [
        (n, [f"w{i}" for i in range(n)]) for n in sorted({0, 1, k - 1, k, k + 1})
    ]
    df = spark.createDataFrame(docs + [(-1, None)], "n int, toks array<string>")
    got = {
        r["n"]: r["g"]
        for r in df.select("n", kgrams("toks", k).alias("g")).collect()
    }
    want = {
        n: [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        for n, toks in docs
    }
    assert got == {**want, -1: []}


def test_minhash_signatures_keep_passthrough_columns(spark):
    """``minhash_signatures`` groups by every column except ``h`` and
    ``band_keys`` keeps every non-``sig_`` column: one id under two values
    of a passthrough column (q156's history and batch sides) stays two
    signature rows, each the min of its own hashes."""
    from iot_data_pipeline_spark.functions.hashing import PORTABLE_MOD
    from iot_data_pipeline_spark.operators.dedup import band_keys

    rows = [("h", 7, 11), ("h", 7, 13), ("b", 7, 11), ("b", 7, 17)]
    hashed = spark.createDataFrame(rows, "side string, id long, h long")
    sigs = minhash_signatures(hashed, 4)
    got = {(r["side"], r["id"]): [r[f"sig_{i}"] for i in range(4)] for r in sigs.collect()}
    want = {
        key: [
            min(
                ((37 + 61 * i) * h + 91 + 17 * i) % PORTABLE_MOD
                for side, id_, h in rows
                if (side, id_) == key
            )
            for i in range(4)
        ]
        for key in [("h", 7), ("b", 7)]
    }
    assert got == want
    bands = band_keys(sigs, 2)
    assert bands.columns == ["side", "id", "band", "key"]
    assert bands.count() == 4


def test_minhash_candidates_find_neardups(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant a near-dup: doc 0's text minus its last token, as id 900000
    d0 = docs.filter(F.col("doc_id") == 0).select(
        F.lit(900000).alias("doc_id"),
        F.expr("array_join(slice(split(text, ' '), 1, size(split(text,' ')) - 1), ' ')").alias("text"),
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(shingle_hashes(docs.unionByName(d0), "text", "doc_id"))
    )
    assert (0, 900000) in {(r["id_a"], r["id_b"]) for r in cand.collect()}


# ------------------------------------------------------------ similarity


def test_cosine_topk_tiers_agree(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(queries, emb, k=5)
    fast = cosine_topk_pandas(queries, emb, k=5)
    key = lambda r: (r["query_id"], r["cand_id"])  # noqa: E731
    exact_rows = sorted(exact.collect(), key=key)
    fast_rows = sorted(fast.collect(), key=key)
    assert [key(r) for r in exact_rows] == [key(r) for r in fast_rows]
    for a, b in zip(exact_rows, fast_rows):
        assert abs(a["sim"] - b["sim"]) <= 1e-4  # only rounding-boundary drift

    blocked = cosine_topk_blocked(queries, emb, k=5)
    # IVF results are a subset ranking: every blocked hit is a real vector
    # pair with the same sim the exact tier computed.
    exact_sims = {key(r): r["sim"] for r in exact.collect()}
    for r in blocked.collect():
        if key(r) in exact_sims:
            assert abs(r["sim"] - exact_sims[key(r)]) < 1e-9


def test_cosine_topk_blocked_plans_one_join(spark):
    """The IVF tier's only join is the broadcast cell join: the cell is
    computed in the projection that makes the norm, not joined back on
    id from each side."""
    import re

    from tests.plan_inspect import formatted_plan

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    plan = formatted_plan(cosine_topk_blocked(df, df, k=2, n_sign_bits=1))
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", plan, re.M)
    assert joins == ["BroadcastHashJoin"], plan


def test_queries_share_one_dot_product_fold():
    """The oracle-exact dot product is ``operators.similarity.dot``; no
    query module folds its own ``zip_with`` copy."""
    from pathlib import Path

    import iot_data_pipeline_spark.queries as queries

    root = Path(queries.__file__).parent
    hits = [
        f"{p.name}:{n}"
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "F.zip_with(" in line
    ]
    assert hits == [], hits


def _call_name(node) -> str | None:
    import ast

    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _copied_primitive(node) -> str | None:
    """The operator ``node`` re-spells, if it is one of: the IVF sign cell
    (``element_at(...) > 0``), the MinHash family (``37 + 61 * i``) or a
    k-gram index over a token array (``sequence(lit(1), size(...) - k)``,
    or its 0-based form for k > 1)."""
    import ast

    if (
        isinstance(node, ast.Compare)
        and _call_name(node.left) == "element_at"
        and isinstance(node.ops[0], ast.Gt)
        and isinstance(node.comparators[0], ast.Constant)
        and node.comparators[0].value == 0
    ):
        return "similarity.assign_cells"
    if (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Add)
        and isinstance(node.left, ast.Constant)
        and node.left.value == 37
        and isinstance(node.right, ast.BinOp)
        and isinstance(node.right.op, ast.Mult)
        and isinstance(node.right.left, ast.Constant)
        and node.right.left.value == 61
    ):
        return "dedup.minhash_signatures"
    if _call_name(node) == "sequence" and len(node.args) == 2:
        start, stop = node.args
        if (
            _call_name(start) == "lit"
            and isinstance(start.args[0], ast.Constant)
            and isinstance(stop, ast.BinOp)
            and isinstance(stop.op, ast.Sub)
            and _call_name(stop.left) == "size"
        ):
            first = start.args[0].value
            minus_one = isinstance(stop.right, ast.Constant) and stop.right.value == 1
            if first == 1 or (first == 0 and not minus_one):
                return "dedup.kgrams"
    return None


def test_queries_share_one_kgram_minhash_and_sign_cell():
    """Word k-grams, the MinHash hash family and the IVF sign cell each
    have one implementation, in ``operators/``: no query module spells
    its own copy in code. The oracle SQL (strings and f-strings) keeps
    its own spelling, because it is the reference the answers are
    compared against."""
    import ast
    from pathlib import Path

    import iot_data_pipeline_spark.queries as queries

    def code_nodes(node):
        for child in ast.iter_child_nodes(node):
            if not isinstance(child, ast.JoinedStr):
                yield child
                yield from code_nodes(child)

    root = Path(queries.__file__).parent
    hits = [
        f"{p.name}:{n.lineno} re-spells {op}"
        for p in sorted(root.rglob("*.py"))
        for n in code_nodes(ast.parse(p.read_text()))
        if (op := _copied_primitive(n))
    ]
    assert hits == [], hits


def test_cosine_tiers_exclude_zero_norm_vectors(spark):
    """An all-zero embedding (padding row / failed encoder) must be
    EXCLUDED from the similarity space, not crash the job: under the
    session's ANSI mode the norm division previously raised
    ArithmeticException in the JVM tiers, and numpy emitted inf/nan in
    the pandas tiers. Valid pairs are unaffected."""
    from iot_data_pipeline_spark.operators.similarity import (
        neardup_pairs_pandas,
    )

    rows = [
        (0, [1.0, 0.0], "x"),
        (1, [0.9, 0.1], "x"),
        (2, [0.0, 0.0], "x"),  # zero-norm: no direction
        (3, [0.0, 1.0], "x"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    for tier in (cosine_topk, cosine_topk_pandas):
        got = tier(df, df, k=10).collect()
        ids = {r["query_id"] for r in got} | {r["cand_id"] for r in got}
        assert 2 not in ids, tier.__name__
        assert {0, 1, 3} <= ids, tier.__name__
    blocked = cosine_topk_blocked(df, df, k=10, n_sign_bits=1).collect()
    assert 2 not in {r["query_id"] for r in blocked} | {
        r["cand_id"] for r in blocked
    }
    pairs = neardup_pairs_pandas(df, threshold=0.5).collect()
    assert all(2 not in (r["vec_a"], r["vec_b"]) for r in pairs)
    assert {(r["vec_a"], r["vec_b"]) for r in pairs} == {(0, 1)}


# -------------------------------------------------------------- stateful


def test_last_state_batch(spark):
    df = spark.createDataFrame(
        [
            Row(device_id="a", timestamp=ts(10), temperature=1.0),
            Row(device_id="a", timestamp=ts(12), temperature=3.0),
            Row(device_id="a", timestamp=ts(11), temperature=2.0),
            Row(device_id="b", timestamp=ts(10), temperature=9.0),
        ]
    )
    got = {r["device_id"]: r for r in last_state_batch(df).collect()}
    assert got["a"]["last_ts"] == ts(12)
    assert got["a"]["last_temperature"] == 3.0
    assert got["a"]["n_readings"] == 3
    assert got["b"]["n_readings"] == 1


# ------------------------------------------------------------ multimodal


@pytest.fixture(scope="module")
def media(spark):
    return spark.createDataFrame(
        [
            Row(media_id=1, mime="image/png", content=b"\x89PNG fake bytes", duration_ms=0),
            Row(media_id=2, mime="video/mp4", content=b"\x00mp4 fake", duration_ms=2500),
            Row(media_id=3, mime="image/png", content=None, duration_ms=0),
        ]
    )


def test_media_metadata(media):
    got = {r["media_id"]: r for r in with_media_metadata(media).collect()}
    assert got[1]["byte_len"] == 15
    assert got[1]["n_chunks"] == 1
    assert len(got[1]["digest"]) == 64


def test_extract_features_fake_deterministic(media):
    one = extract_features(media, mode="fake", dim=8)
    two = extract_features(media.repartition(3), mode="fake", dim=8)
    a = {r["media_id"]: r["features"] for r in one.collect()}
    b = {r["media_id"]: r["features"] for r in two.collect()}
    assert a == b  # partitioning/batching cannot change results
    assert len(a[1]) == 8
    assert a[3] is None  # NULL payload -> NULL features


def test_extract_features_strict_raises(media):
    with pytest.raises(Exception) as ei:
        extract_features(media, mode="strict").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


# ------------------------------------------------------------------ skew


def test_lsh_band_config_guards(spark):
    """Misconfigured banding must refuse, not silently degrade: n_bands
    beyond the signature width makes every band key empty (all ids in
    ONE bucket -- the quadratic pairing LSH exists to avoid), and a
    non-divisible width silently drops trailing signature columns."""
    import pytest as _pytest

    from iot_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.range(4).selectExpr(
        "id", *[f"id * {i + 1} AS sig_{i}" for i in range(4)]
    )
    with _pytest.raises(ValueError, match="empty"):
        lsh_candidate_pairs(sigs, n_bands=5)
    with _pytest.raises(ValueError, match="divide"):
        lsh_candidate_pairs(sigs, n_bands=3)
    # valid config still pairs
    assert lsh_candidate_pairs(sigs, n_bands=2).columns == ["id_a", "id_b"]


def test_salted_agg_equals_plain(spark, sf_dir):
    from iot_data_pipeline_spark.operators.skew import salted_agg

    ev = read_table(spark, sf_dir, "events")
    # manufacture skew: 90% of rows share one key
    skewed = ev.withColumn(
        "k", F.when(F.col("event_id") % 10 != 0, F.lit("hot")).otherwise(
            F.col("event_type")
        )
    )
    got = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in salted_agg(
            skewed,
            ["k"],
            {"total": ("value", "sum"), "n": ("value", "count"), "mx": ("value", "max")},
        ).collect()
    }
    want = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in skewed.groupBy("k")
        .agg(
            F.sum("value").alias("total"),
            F.count("value").alias("n"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][2] == want[k][2]
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-12)


def test_salted_join_equals_plain(spark, sf_dir):
    from iot_data_pipeline_spark.operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = spark.createDataFrame(
        [("click", 1.5), ("view", 1.0), ("purchase", 3.0), ("signup", 2.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    got = salted_join(ev, dim, ["event_type"], n_salts=8)
    want = ev.join(dim, "event_type")
    assert got.count() == want.count()
    g = {r["event_id"]: r["weight"] for r in got.collect()}
    w = {r["event_id"]: r["weight"] for r in want.collect()}
    assert g == w


def test_salted_join_left_outer_parity_and_right_rejected(spark, sf_dir):
    """left-outer through the salt is exact (each left row carries ONE
    salt; unmatched lefts emit once), while join types emitting
    unmatched RIGHT rows are refused -- those rows exist once per
    replica and would surface n_salts times (round-6 hardening)."""
    import pytest as _pytest

    from iot_data_pipeline_spark.operators.skew import salted_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = spark.createDataFrame(
        [("click", 1.5), ("view", 1.0)], "event_type string, weight double"
    )
    got = salted_join(ev, dim, ["event_type"], n_salts=8, how="left")
    want = ev.join(dim, "event_type", "left")
    g = {r["event_id"]: r["weight"] for r in got.collect()}
    w = {r["event_id"]: r["weight"] for r in want.collect()}
    assert g == w  # includes None weights for unmatched event types
    for bad in ("right", "full", "right_semi"):
        with _pytest.raises(ValueError, match="salt the other side"):
            salted_join(ev, dim, ["event_type"], how=bad)


# ---------------------------------------------------------------- graph


def test_connected_components_two_clusters(spark):
    from iot_data_pipeline_spark.operators.graph import connected_components

    # chain 1-2-3 (A~C only transitively) + isolated pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_connected_components_long_chain(spark):
    """A path graph is one component (the driver union-find path)."""
    from iot_data_pipeline_spark.operators.graph import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    rows = connected_components(edges).collect()
    assert len(rows) == n + 1
    assert {r.component for r in rows} == {0}


def test_connected_components_distributed_chain_is_one_component(spark):
    """A 41-node chain forced onto the distributed path is one component:
    the round count follows the node count, not the chain's diameter
    (a 25-round label propagation stopped at 16 components, silently)."""
    from iot_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    rows = connected_components(edges, local_threshold=0).collect()
    assert len(rows) == 41
    assert {r.component for r in rows} == {0}


def test_connected_components_raises_without_fixpoint(spark, monkeypatch):
    """Rounds that run out before the fixpoint fail loudly instead of
    returning partial labels."""
    from iot_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_MAX_ROUNDS", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint after 2"):
        graph.connected_components(edges, local_threshold=0)


def test_connected_components_paths_agree(spark):
    """Hybrid contract: driver union-find and distributed contraction
    return identical components on the same random-ish graph."""
    import random

    from iot_data_pipeline_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    local = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold=10**6).collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert local == dist


def test_salted_agg_property_random(spark):
    """Property: salting never changes results, only partitioning.

    (Distinct from test_salted_agg_equals_plain above: synthetic random
    skew instead of the events table -- was silently shadowing it by
    sharing its name.)"""
    import random

    from pyspark.sql import functions as F

    from iot_data_pipeline_spark.operators.skew import salted_agg

    rng = random.Random(11)
    # 90% hot key to simulate skew
    rows = [
        ("hot" if rng.random() < 0.9 else f"k{rng.randrange(5)}", rng.randrange(1000))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    salted = {
        tuple(r)
        for r in salted_agg(
            df,
            ["k"],
            {"n": ("v", "count"), "s": ("v", "sum"), "mx": ("v", "max")},
        ).collect()
    }
    plain = {
        tuple(r)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert salted == plain


def test_expect_split_partitions_rows(spark):
    from iot_data_pipeline_spark.operators.quality import Expectation, expect_split

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -3.0, "b"), (3, None, "c"), (4, 700.0, None)],
        "id long, v double, tag string",
    )
    rules = [
        Expectation("v_range", F.col("v").between(0, 500)),
        Expectation("tag_present", F.col("tag").isNotNull()),
    ]
    clean, quarantined = expect_split(df, rules)
    assert [r["id"] for r in clean.orderBy("id").collect()] == [1]
    got = {
        r["id"]: set(r["violations"])
        for r in quarantined.orderBy("id").collect()
    }
    # NULL check results are violations (cannot prove true => false)
    assert got == {
        2: {"v_range"},
        3: {"v_range"},
        4: {"v_range", "tag_present"},
    }


def test_global_running_sum_matches_window(spark, sf_dir):
    from iot_data_pipeline_spark.operators.prefix import global_scan
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    got = global_scan(
        ev, ["event_id"], sum_cols={"running_sum": "value"}, num_partitions=7
    )
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = ev.withColumn("running_sum", F.sum("value").over(w))
    g = {r["event_id"]: r["running_sum"] for r in got.collect()}
    x = {r["event_id"]: r["running_sum"] for r in want.collect()}
    assert set(g) == set(x)
    for k in x:
        assert abs(g[k] - x[k]) < 1e-6, k
    # scale property: the cumulative window runs PARTITIONED (by _pid),
    # never as a global single-partition window. (AQE may still coalesce
    # the tiny test output to 1 partition, so assert on the plan.)
    from tests.plan_inspect import formatted_plan

    plan = formatted_plan(got)
    w_lines = [
        l
        for l in plan.splitlines()
        if "Window" in l or "partitionSpec" in l.lower()
    ]
    assert w_lines, plan
    assert any("_pid" in l for l in plan.splitlines() if "partition" in l.lower()) or (
        "_pid" in plan
    ), plan


def test_global_fill_forward_matches_window(spark, sf_dir):
    from iot_data_pipeline_spark.operators.prefix import global_fill_forward
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        # nulls to fill: only signup rows carry a value
        F.when(F.col("event_type") == "signup", F.col("value")).alias("v"),
    )
    got = global_fill_forward(ev, "v", ["event_id"], num_partitions=5)
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = ev.withColumn("filled", F.last("v", ignorenulls=True).over(w))
    g = {r["event_id"]: r["filled"] for r in got.collect()}
    x = {r["event_id"]: r["filled"] for r in want.collect()}
    assert g == x
    # leading rows before any non-null stay null
    assert any(v is None for v in g.values()) or all(
        v is not None for v in x.values()
    )


def test_global_ranks_match_window(spark, sf_dir):
    from iot_data_pipeline_spark.operators.prefix import global_scan
    from pyspark.sql.window import Window as W

    # c_acctbal has ties at test SF? force some: bucket the balance
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal"), -2).alias("bal")
    )
    got = global_scan(
        cust, ["bal", "c_custkey"], ascending=[False, True], ranks=True,
        ntile=4, num_partitions=6,
    )
    w = W.orderBy(F.desc("bal"), "c_custkey")
    want = cust.select(
        "c_custkey",
        F.rank().over(w).alias("rank"),
        F.dense_rank().over(w).alias("dense_rank"),
        F.row_number().over(w).alias("row_number"),
        F.ntile(4).over(w).alias("ntile"),
    )
    g = {r["c_custkey"]: (r["rank"], r["dense_rank"], r["row_number"], r["ntile"])
         for r in got.collect()}
    x = {r["c_custkey"]: (r["rank"], r["dense_rank"], r["row_number"], r["ntile"])
         for r in want.collect()}
    assert g == x


def test_global_scan_combines_sums_and_ranks(spark, sf_dir):
    from iot_data_pipeline_spark.operators.prefix import global_scan
    from pyspark.sql.window import Window as W

    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    got = global_scan(
        ev,
        ["value", "event_id"],
        ascending=[False, True],
        sum_cols={"run_v": "value"},
        ranks=True,
        ntile=3,
        num_partitions=5,
    )
    w = W.orderBy(F.desc("value"), "event_id")
    want = ev.select(
        "event_id",
        F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("run_v"),
        F.rank().over(w).alias("rank"),
        F.dense_rank().over(w).alias("dense_rank"),
        F.row_number().over(w).alias("row_number"),
        F.ntile(3).over(w).alias("ntile"),
    )
    g = {r["event_id"]: r for r in got.collect()}
    x = {r["event_id"]: r for r in want.collect()}
    assert set(g) == set(x)
    for k in x:
        assert abs(g[k]["run_v"] - x[k]["run_v"]) < 1e-6, k
        for c in ("rank", "dense_rank", "row_number", "ntile"):
            assert g[k][c] == x[k][c], (k, c)


def test_ntile_exact_above_2_pow_53(spark):
    """The NTILE arithmetic is integral: with 2^53 + 3 rows in 4 tiles,
    DOUBLE division rounds the tile size up by one and puts row
    2^51 + 2 (the first row of tile 2) in tile 1."""
    from iot_data_pipeline_spark.operators.prefix import _ntile

    total, k = 2**53 + 3, 4
    big, rem = total // k + 1, total % k

    def want(rn: int) -> int:
        if rn <= big * rem:
            return -(-rn // big)
        return rem + -(-(rn - big * rem) // (big - 1))

    rows = [1, big - 1, big, big + 1, 2 * big, big * rem, big * rem + 1, total]
    df = spark.createDataFrame(
        [(total, rn) for rn in rows], "_total long, row_number long"
    )
    got = {r["row_number"]: r["ntile"] for r in df.select(
        "row_number", _ntile(k).alias("ntile")).collect()}
    assert got == {rn: want(rn) for rn in rows}
    assert got[big + 1] == 2


def _uf_ground_truth(pairs):
    from iot_data_pipeline_spark.operators.graph import _union_find_local

    return _union_find_local(pairs)


def test_star_contraction_matches_union_find_random_graphs(spark):
    # Property: the distributed path (large-star/small-star contraction)
    # labels every node with its component minimum, on graphs of varying
    # density -- including a 60-deep chain, more hops than the loop's
    # round budget, so only a round count that does not follow the
    # diameter converges on it.
    import random

    from iot_data_pipeline_spark.operators.graph import connected_components

    cases = []
    rng = random.Random(0xC0FFEE)
    for trial in range(6):
        n = rng.randrange(5, 40)
        n_edges = rng.randrange(1, 3 * n)
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(n_edges)]
        )
    cases.append([(i, i + 1) for i in range(60)])  # 60-deep chain
    cases.append([(0, i) for i in range(1, 30)])  # star
    cases.append([(i, i) for i in range(5)] + [(7, 9)])  # self loops + edge

    for pairs in cases:
        clean = [(a, b) for a, b in pairs if a != b]
        want = _uf_ground_truth(clean)
        # nodes whose only edge is a self-loop are their own component
        for a, b in pairs:
            want.setdefault(a, a)
            want.setdefault(b, b)
        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs] or [(0, 0)], "src long, dst long"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges, local_threshold=0).collect()
        }
        assert got == want, (sorted(got.items()), sorted(want.items()))


@pytest.mark.parametrize("seed,n_rows,n_parts", [(1, 37, 64), (2, 200, 3), (3, 5, 8)])
def test_prefix_ops_adversarial_random(spark, seed, n_rows, n_parts):
    """Seeded-random boundary-carry fuzz for the distributed prefix ops:
    partition counts above the row count (empty range partitions), long
    NULL runs crossing partition boundaries, negative and integer
    values -- against the single-partition window oracle. The q178-class
    bugs live exactly at these carries (round-6 audit)."""
    import random

    from pyspark.sql.window import Window as W

    from iot_data_pipeline_spark.operators.prefix import (
        global_fill_forward,
        global_scan,
    )

    rnd = random.Random(seed)
    rows = []
    for i in range(n_rows):
        v = rnd.choice([None, None, rnd.randint(-50, 50)])
        rows.append((i, v))
    df = spark.createDataFrame(rows, "k long, v long")

    got_s = {
        r["k"]: r["running_sum"]
        for r in global_scan(
            df, ["k"], sum_cols={"running_sum": "v"}, num_partitions=n_parts
        ).collect()
    }
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want_s = {
        r["k"]: r["rs"]
        for r in df.withColumn("rs", F.sum("v").over(w)).collect()
    }
    assert got_s == want_s  # exact LONG arithmetic, no tolerance

    got_f = {
        r["k"]: r["filled"]
        for r in global_fill_forward(
            df, "v", ["k"], num_partitions=n_parts
        ).collect()
    }
    want_f = {
        r["k"]: r["f"]
        for r in df.withColumn(
            "f", F.last("v", ignorenulls=True).over(w)
        ).collect()
    }
    assert got_f == want_f


@pytest.mark.parametrize("seed,n_rows,n_parts", [(11, 60, 64), (12, 90, 5)])
def test_global_ranks_and_scan_adversarial_random(spark, seed, n_rows, n_parts):
    """Tie-heavy seeded fuzz for global_scan: order keys drawn from a
    tiny domain so tie GROUPS span range-partition boundaries (the
    property the carry relies on: equal keys never split), descending
    order, a tiebroken ntile, and NULL-run running sums -- all against
    single-window oracles."""
    import random

    from pyspark.sql.window import Window as W

    from iot_data_pipeline_spark.operators.prefix import global_scan

    rnd = random.Random(seed)
    rows = [
        (i, rnd.randint(0, 4), rnd.choice([None, rnd.randint(-9, 9)]))
        for i in range(n_rows)
    ]
    df = spark.createDataFrame(rows, "id long, key long, v long")

    got = {
        r["id"]: (r["rank"], r["dense_rank"], r["ntile"])
        for r in global_scan(
            df,
            ["key"],
            ascending=[False],
            ranks=True,
            ntile=7,
            num_partitions=n_parts,
            tiebreak_cols=["id"],
        ).collect()
    }
    w = W.orderBy(F.desc("key"), "id")
    w_rk = W.orderBy(F.desc("key"))
    want = {
        r["id"]: (r["rk"], r["dr"], r["nt"])
        for r in df.select(
            "id",
            F.rank().over(w_rk).alias("rk"),
            F.dense_rank().over(w_rk).alias("dr"),
            F.ntile(7).over(w).alias("nt"),
        ).collect()
    }
    assert got == want

    scan = global_scan(
        df,
        ["id"],
        sum_cols={"cum_v": "v"},
        ranks=True,
        num_partitions=n_parts,
        total_cols={"grand_v": "cum_v"},
    )
    got2 = {
        r["id"]: (r["cum_v"], r["rank"], r["grand_v"])
        for r in scan.collect()
    }
    w_id = W.orderBy("id")
    w_cum = w_id.rowsBetween(W.unboundedPreceding, W.currentRow)
    grand = sum(v for _, _, v in rows if v is not None)
    want2 = {
        r["id"]: (r["cv"], r["rk"], grand)
        for r in df.select(
            "id",
            F.sum("v").over(w_cum).alias("cv"),
            F.rank().over(w_id).alias("rk"),
        ).collect()
    }
    assert got2 == want2


def test_exact_dedup_aggregate_shape_no_window(spark):
    """exact_dedup must plan as a hash aggregate with map-side partial
    merge, NOT a row_number window: the window shuffles and sorts every
    copy of a hot digest through one task (the 10M-copy boilerplate page
    at 100 TB), while the aggregate collapses copies per input task.
    Shape pinned here; the semantics are pinned by the null-safety test
    and the q22 oracle gate."""
    df = spark.createDataFrame(
        [Row(id=i, a="same", b="content") for i in range(20)]
    )
    plan = exact_dedup(df, ["a", "b"], "id")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min_by" in plan or "HashAggregate" in plan


def test_lsh_hot_bucket_star_pairing(spark):
    """A duplicate cluster (identical signatures -> one bucket per band)
    must emit O(m) star pairs under max_bucket, not m(m-1)/2, while
    preserving connectivity: every cluster member reaches the hub (the
    bucket min id), so connected-component clustering is unchanged.
    Small buckets keep exhaustive pairs bit-identical to the uncapped
    operator."""
    from iot_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

    # ids 0-9: one identical cluster (same sigs); ids 100-101: a small
    # independent cluster; id 200: a singleton
    sigs = spark.range(13).selectExpr(
        "CASE WHEN id < 10 THEN id WHEN id < 12 THEN id + 90 ELSE 200 END AS id",
        *[
            f"CASE WHEN id < 10 THEN {7 * i} WHEN id < 12 THEN {1000 + i} "
            f"ELSE {5000 + i} END AS sig_{i}"
            for i in range(4)
        ],
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, n_bands=2, max_bucket=4).collect()
    }
    # hot cluster: exactly the 9 star pairs (0, j), no transitive pairs
    assert {(0, j) for j in range(1, 10)} <= capped
    assert not any(a != 0 and a < 10 for a, _ in capped)
    # small cluster: exhaustive pair survives the cap untouched
    assert (100, 101) in capped
    # singleton: pairs with nothing
    assert not any(200 in p for p in capped)
    assert len(capped) == 10

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, n_bands=2).collect()
    }
    assert len(uncapped) == 45 + 1  # C(10,2) hot pairs + the small pair
    # the capped output is a subset with identical connected components
    assert capped <= uncapped


def test_lsh_max_bucket_guard(spark):
    import pytest as _pytest

    from iot_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.range(4).selectExpr(
        "id", *[f"id * {i + 1} AS sig_{i}" for i in range(4)]
    )
    with _pytest.raises(ValueError, match="max_bucket"):
        lsh_candidate_pairs(sigs, n_bands=2, max_bucket=1)


def test_spread_rows_probes_no_plan_with_an_exchange(spark, count_jobs):
    """The partition probe counts partitions through the frame's
    QueryExecution; on a plan with an exchange that count would run the
    upstream stages. A grouped frame is spread without a probe: no job
    runs inside ``spread_rows``, and the rows are unchanged."""
    from iot_data_pipeline_spark.operators.spread import spread_rows

    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    spread, jobs = count_jobs(lambda: spread_rows(grouped))
    assert jobs == 0
    assert sorted(spread.collect()) == sorted(grouped.collect())
