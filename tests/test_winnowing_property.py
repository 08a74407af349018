"""Winnowing guarantee (Schleimer/Wilkerson/Aiken SIGMOD'03): every
window of w consecutive k-grams contributes its minimum to the
fingerprint set, so any shared substring of length >= w + k - 1 tokens
between two documents forces at least one SHARED fingerprint. q118
reports per-doc counts; this test checks the underlying guarantee on
the fingerprint SETS of q118's own gram and window-min step, against a
reference implementation with the same md5 ordering."""

from __future__ import annotations

import hashlib


def _winnow(tokens, k, w):
    grams = [
        hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()
        for i in range(len(tokens) - k + 1)
    ]
    return {
        min(grams[i - w + 1 : i + 1])
        for i in range(w - 1, len(grams))
    }


def test_shared_long_substring_forces_shared_fingerprint(spark):
    from iot_data_pipeline_spark.queries.curation import (
        WINNOW_K,
        WINNOW_W,
        _winnowing_fingerprints,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta".split()
    # doc B embeds a >= w+k-1 = 8-token run of doc A inside unrelated text
    doc_a = ["x%d" % i for i in range(6)] + base + ["y%d" % i for i in range(4)]
    doc_b = ["p%d" % i for i in range(5)] + base + ["q%d" % i for i in range(7)]
    fp_a = _winnow(doc_a, WINNOW_K, WINNOW_W)
    fp_b = _winnow(doc_b, WINNOW_K, WINNOW_W)
    assert fp_a & fp_b, "winnowing guarantee violated in reference impl"

    # the Spark pipeline (q118's gram/window-min shape) must produce the
    # SAME fingerprint sets as the reference implementation
    df = spark.createDataFrame(
        [(0, " ".join(doc_a)), (1, " ".join(doc_b))], "doc_id long, text string"
    )
    spark_fps = _winnowing_fingerprints(df).collect()
    got = {0: set(), 1: set()}
    for r in spark_fps:
        got[r["doc_id"]].add(r["fp"])
    assert got[0] == fp_a
    assert got[1] == fp_b
