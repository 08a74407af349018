"""Similarity search over embedding columns (north-star mandate; B46).

Three tiers, in order of scale:

1. ``cosine_topk``  -- brute force, exact: every (query, candidate) pair.
   Correctness baseline and the right choice when queries are few.
2. ``cosine_topk_blocked`` -- IVF-style: both sides assigned to cells,
   pairing only within a cell. Recall < 1, cost / n_cells. q31 is its
   oracle-checked caller.
3. ``cosine_topk_pandas`` -- same brute-force semantics, but the scoring
   runs in an Arrow-batched pandas UDF doing one numpy matmul per batch
   (B50): ~10-50x less per-pair overhead than interpreted higher-order
   functions. Not oracle-exact: BLAS reorders the float sum, so results
   match built-in arithmetic only to ~1e-12 -- use for throughput, keep
   the HOF tier for oracle-checked paths.

All tiers share the fixed dot-product fold so tiers 1-2 are bit-identical
to the DuckDB oracle's ``list_cosine_similarity`` after ROUND(.., 4).
Every tier reads the ``embeddings`` table's columns, ``vec_id`` and
``embedding``. ``assign_cells`` is the one IVF sign cell: tier 2, q31,
q136 (4 bits), q148, q149, q176, q183 and ``queries/llm.rag_retrieve``
(3 bits) all call it.

Zero-norm (and NULL) vectors are EXCLUDED from the similarity space in
every tier: cosine is undefined for them, and under the session's ANSI
mode the division would otherwise kill the whole job on the first
all-zero embedding (a padding row or failed encoder output -- exactly
the rows a 100 TB corpus will contain). Excluding beats NULL-scoring:
undefined rows neither consume top-k slots nor form near-dup pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(x: Column, y: Column) -> Column:
    """Sequential left-to-right fold -- same summation order as DuckDB's
    list_dot_product, which is what makes cosine scores oracle-exact."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
    )


def _normed(df: DataFrame, *extra: Column) -> DataFrame:
    emb = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    return df.select(
        F.col("vec_id").alias("id"),
        emb.alias("emb"),
        F.sqrt(dot(emb, emb)).alias("nrm"),
        *extra,
    ).filter(
        # zero-norm/NULL: no direction; NaN/Inf norms: no defined cosine
        # (NaN compares GREATER than 0 in Spark, so > 0 alone admits it)
        (F.col("nrm") > 0)
        & ~F.isnan(F.col("nrm"))
        & (F.col("nrm") < F.lit(float("inf")))
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row (brute force).

    Queries are broadcast (the standard ANN serving shape: few queries,
    many candidates), so candidates stream through one codegen stage and
    only (query_id, cand_id, sim) survive to the top-k window.
    """
    q = _normed(queries).select(
        F.col("id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    c = _normed(candidates)
    sim = F.round(dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 4)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("cand_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cand_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def assign_cells(vec_col: str, n_sign_bits: int = 3) -> Column:
    """IVF cell id by sign-quantizing the first ``n_sign_bits`` components
    (a stand-in for trained centroids: same plan shape, no training dep)."""
    cell = F.lit(0)
    for i in range(n_sign_bits):
        cell = cell + F.when(
            F.element_at(F.col(vec_col), i + 1) > 0, 2 ** (n_sign_bits - 1 - i)
        ).otherwise(0)
    return cell


def cosine_topk_blocked(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_sign_bits: int = 3,
) -> DataFrame:
    """IVF-style approximate top-k: each query probes only its own cell.

    The pairing becomes an equi-join on cell -- a hash join, never a cross
    join -- cutting candidates by ~2^n_sign_bits at the price of recall.
    This is the 100 TB shape: cells partition the candidate set, each
    executor sees only its cells' vectors. The cell is computed in the
    same projection as the norm, so the cell join is the plan's only join.
    """
    cell = assign_cells("embedding", n_sign_bits).alias("cell")
    q = _normed(queries, cell).select(
        F.col("id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("cell").alias("qcell"),
    )
    c = _normed(candidates, cell)
    sim = F.round(dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm")), 4)
    scored = (
        c.join(F.broadcast(q), F.col("qcell") == F.col("cell"))
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("cand_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cand_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def neardup_pairs_pandas(
    df: DataFrame,
    block_col: str = "label",
    threshold: float = 0.75,
    keep_block: bool = False,
) -> DataFrame:
    """All-pairs cosine near-dup within blocks, one numpy matmul per block.
    ``keep_block=True`` carries the block key in the output (consumers
    that aggregate per block, e.g. SemDeDup's per-cell removal counts,
    then need no join back to recover it).

    The block column is the blocking key (a semantic label here; an LSH
    bucket or IVF cell at 100 TB) -- Spark shuffles once on it, then each
    block is a single ``N @ N.T`` Gram matrix in an Arrow-batched
    ``applyInPandas`` task. Per-pair cost is a fused BLAS flop instead of
    an interpreted 2-pass zip_with/aggregate fold: ~10-50x faster, and the
    shape parallelizes as blocks, not pairs. BLAS reorders the float sum
    vs the sequential fold; after ROUND(sim, 4) the two agree unless a
    pair sits within ~1e-12 of a rounding boundary (none do in the driver
    testdata -- asserted by the oracle gate at sf0.01).
    """
    import numpy as np
    import pandas as pd

    # the block key's output type follows the input schema (an LSH bucket is
    # a long, the default 'label' demo key may be a string) instead of a
    # hardcoded long, so keep_block works with any hashable block column.
    block_dt = df.schema[block_col].dataType.simpleString()
    block_pd = {
        "tinyint": "int8",
        "smallint": "int16",
        "int": "int32",
        "bigint": "int64",
        "float": "float32",
        "double": "float64",
        "boolean": "bool",
    }.get(block_dt, "object")

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        cols = {"vec_a": "int64", "vec_b": "int64", "sim": "float64"}
        if keep_block:
            cols = {block_col: block_pd, **cols}
        if n < 2:
            return pd.DataFrame({c: [] for c in cols}).astype(cols)
        m = np.array(list(pdf["embedding"]), dtype="float64")
        ids = pdf["vec_id"].to_numpy()
        valid = np.sqrt((m * m).sum(axis=1)) > 0
        m, ids = m[valid], ids[valid]  # zero-norm rows: excluded
        n = len(ids)
        if n < 2:
            return pd.DataFrame({c: [] for c in cols}).astype(cols)
        g = m @ m.T
        nrm = np.sqrt(np.diag(g))
        sims = np.round(g / np.outer(nrm, nrm), 4)
        # i < j on vec_id (not row position): the contract is id-ordered pairs
        order = np.argsort(ids)
        ids, sims = ids[order], sims[np.ix_(order, order)]
        iu, ju = np.triu_indices(n, k=1)
        keep = sims[iu, ju] >= threshold
        out = {
            "vec_a": ids[iu[keep]],
            "vec_b": ids[ju[keep]],
            "sim": sims[iu, ju][keep],
        }
        if keep_block:
            out = {block_col: np.repeat(pdf[block_col].iloc[0], keep.sum()), **out}
        return pd.DataFrame(out)

    out_schema = "vec_a long, vec_b long, sim double"
    if keep_block:
        out_schema = f"{block_col} {block_dt}, " + out_schema
    return df.select("vec_id", "embedding", block_col).groupBy(block_col).applyInPandas(
        pairs, schema=out_schema
    )


def cosine_topk_pandas(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k with numpy-batched scoring (B50 throughput tier).

    Queries are collected once (serving-sized by assumption), shipped to
    every task, and each Arrow batch of candidates is scored with a single
    ``Q @ C.T`` matmul in ``mapInPandas`` -- per-batch vectorized work
    instead of per-pair interpreted folds. Returns the same schema as
    :func:`cosine_topk`; sims differ from the HOF tier only by float
    summation order (< 1e-12 relative).
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select("vec_id", "embedding").collect()
    qids = np.array([r["vec_id"] for r in qrows])
    qm = np.array([r["embedding"] for r in qrows], dtype="float64")
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qvalid = qn[:, 0] > 0
    qids, qm, qn = qids[qvalid], qm[qvalid], qn[qvalid]  # excluded
    qm = qm / qn

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.array(list(pdf["embedding"]), dtype="float64")
            cn = np.linalg.norm(cm, axis=1, keepdims=True)
            cvalid = cn[:, 0] > 0
            cids = pdf["vec_id"].to_numpy()[cvalid]
            if len(cids) == 0:
                continue
            cm = cm[cvalid] / cn[cvalid]
            sims = qm @ cm.T  # (n_queries, batch)
            n_q, n_c = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n_c),
                    "cand_id": np.tile(cids, n_q),
                    "sim": np.round(sims.ravel(), 4),
                }
            )

    scored = candidates.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, cand_id long, sim double"
    ).filter(F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cand_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
