"""Measure dedup-family behavior under HOT-KEY skew: duplicate clusters.

tools/scale_sweep.py (historical: since deleted) proved per-row cost
stays flat as volume grows with UNIFORM key cardinality. This tool probes the orthogonal hazard: one value
repeated an extreme number of times -- the boilerplate page / empty
document that dominates every real crawl. Two probes, each comparing the
shipped operator against the shape it replaced (or the uncapped variant it
guards):

1. exact_dedup under a hot digest: the min_by aggregate (shipped) is
   partial-merged -- each input task collapses its local copies, so the
   hot digest ships ONE partial per map task into the final stage. The
   row_number-window shape it replaced shuffles EVERY copy to one
   partition and sorts there. HONEST CAVEAT: at the cluster sizes a
   local[32] probe can build (millions of ~300-byte rows), one in-RAM
   sort is cheap and the window's wall stays flat too -- locally it is
   even FASTER (the min_by struct buffer plans as SortAggregate, ~2x
   the CPU). The probe therefore documents the local trade; the scale
   argument is structural and exact: the window's single hot task holds
   the ENTIRE cluster (10M copies x 10 KB = 100 GB through one task),
   while the aggregate's final-stage input for the hot digest is
   #map-tasks partial rows, a constant in cluster size.

2. LSH candidate pairing under a duplicate cluster: m identical documents
   share every band bucket, so uncapped pairing emits 4 * C(m,2) pairs --
   quadratic in m (5e13 pairs for the 10M-copy page at 100 TB). The
   max_bucket star path (shipped, gated by q192) emits O(m) pairs per
   bucket; its wall stays flat while the uncapped wall grows ~4x per
   cluster doubling.

Run:  python tools/skew_sweep.py [sf_dir]    (default /root/testdata/sf0.1)
Prints one JSON line per (probe, variant, cluster size) plus a summary
line; wall times are min-of-2 (first run pays codegen). Results recorded
in SCALE.md section 7d.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_data_pipeline_spark.session import build_session  # noqa: E402
from iot_data_pipeline_spark.sources.readers import read_table  # noqa: E402

#: hot-digest cluster sizes (copies of ONE document added to the corpus).
#: Capped at 2M: the generator (1-row crossJoin range) plus the probe both
#: live in one local JVM, and 4M full-text rows OOM its heap -- the probe
#: regime is bounded by the harness, not the operator.
EXACT_CLUSTERS = (500_000, 1_000_000, 2_000_000)
#: LSH duplicate-cluster sizes (uncapped cost ~ 4 * C(m,2) pairs)
LSH_CLUSTERS = (1_000, 2_000, 4_000)
MAX_BUCKET = 64


def corpus_with_cluster(
    spark: SparkSession, sf_dir: str, copies: int
) -> DataFrame:
    """documents plus ONE document's text replicated ``copies`` times
    under fresh ids -- the duplicate-cluster shape."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    cluster = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(copies).select(F.col("id").alias("i")))
        .select((F.lit(10_000_000) + F.col("i")).alias("doc_id"), "text")
    )
    return docs.unionByName(cluster)


def window_exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """The row_number-window shape operators/dedup.exact_dedup REPLACED,
    kept here as the measurement baseline: every copy of the hot digest
    shuffles to a single partition and sorts there."""
    digest = F.sha2(F.concat_ws("\x1f", *content_cols), 256)
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_to_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(make, *, runs: int = 2) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        run_to_noop(make())
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session("skew-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    read_table(spark, sf_dir, "documents").count()  # warm workers

    from iot_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    results: dict[str, dict] = {}

    # ---- probe 1: exact dedup under a hot digest -----------------------
    for variant, op in (("min_by_agg", exact_dedup),
                        ("window_baseline", window_exact_dedup)):
        per = {}
        for m in EXACT_CLUSTERS:
            corpus = corpus_with_cluster(spark, sf_dir, m)
            wall = timed(lambda: op(corpus, ["text"], "doc_id"))
            per[m] = wall
            print(json.dumps({"probe": "exact_dedup", "variant": variant,
                              "cluster": m, "wall_sec": wall}), flush=True)
        results[f"exact_dedup/{variant}"] = per

    # ---- probe 2: LSH pairing under a duplicate cluster -----------------
    def lsh(corpus: DataFrame, cap: int | None) -> DataFrame:
        sigs = minhash_signatures(shingle_hashes(corpus, "text", "doc_id"))
        return lsh_candidate_pairs(sigs, n_bands=4, max_bucket=cap)

    for variant, cap in (("capped_star", MAX_BUCKET), ("uncapped", None)):
        per = {}
        for m in LSH_CLUSTERS:
            corpus = corpus_with_cluster(spark, sf_dir, m)
            pairs = lsh(corpus, cap).count()
            wall = timed(lambda: lsh(corpus, cap))
            per[m] = {"wall": wall, "pairs": pairs}
            print(json.dumps({"probe": "lsh_pairs", "variant": variant,
                              "cluster": m, "wall_sec": wall,
                              "pairs": pairs}), flush=True)
        results[f"lsh_pairs/{variant}"] = per

    # ---- summary: growth factors across the sweep ----------------------
    summary: dict[str, dict] = {}
    for key, per in results.items():
        sizes = sorted(per)
        walls = [per[s]["wall"] if isinstance(per[s], dict) else per[s]
                 for s in sizes]
        summary[key] = {
            "walls": walls,
            # wall growth from smallest to largest cluster; the cluster
            # grows 4x, so ~1 means flat per-cluster cost and >~4 means
            # the quadratic term dominates
            "growth_max_over_min": round(walls[-1] / walls[0], 2)
            if walls[0] else None,
        }
    print(json.dumps({"skew_sweep": summary}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
