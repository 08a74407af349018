"""Deduplication operator family (north-star mandate; SURVEY.md B44/B45).

Generic, column-parameterized versions of what the declared queries
q22-q23 instantiate; q192 composes ``shingle_hashes`` ->
``minhash_signatures`` -> ``lsh_candidate_pairs`` directly. All shapes
are shuffle-minimal by construction:

- exact: group on a 32-byte digest, never the content (min_by partial
  aggregation, so even a corpus that is 90% one document never funnels
  through a single task);
- minhash/LSH: content -> 8-byte shingle hashes -> fixed-width signature
  -> band-bucket equi-join; no corpus-wide quadratic step, and the
  within-bucket quadratic (duplicate-cluster blowup) is capped by
  ``max_bucket`` star pairing;
- simhash: q24 (``queries/llm.py``) is the one implementation; it
  fingerprints per (doc, lang) block, which is its blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iot_data_pipeline_spark.functions.hashing import PORTABLE_MOD, portable_hash

#: observation names must be unique per query; a query composing
#: exact_dedup twice would otherwise collide (module counter, not a
#: timestamp: plan text stays deterministic for plan-shape tests).
#: itertools.count: next() is atomic in CPython, so concurrent query
#: construction from threads cannot mint duplicate names (round-10
#: ADVICE -- the bare ``+= 1`` global could race).
import itertools as _itertools

_OBS_SEQ = _itertools.count(1)


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row (min ``id_col``) per exact content match.

    Grouping key is ``sha2`` over the concatenated content -- at 100 TB the
    shuffle carries 32-byte digests, not documents. NULL-safe: concat_ws
    treats NULL as '', with a unit separator to prevent field-boundary
    collisions ('ab','c' vs 'a','bc').

    Shape: ``min_by`` aggregation, NOT a row_number window. Both compute
    the same representative, but the window shuffles every row to its
    digest's partition and sorts there -- one boilerplate page duplicated
    10M times serializes 10M rows through a single task. The aggregate
    has map-side partial merge: each input task collapses its local
    copies first, so a hot digest ships one partial per task regardless
    of cluster size (measured: tools/skew_sweep.py, historical: since
    deleted, SCALE.md section 7d).

    Contract: ``id_col`` is non-NULL. Enforced with a pre-shuffle filter
    rather than documentation: ``min_by`` skips NULL-ordered rows, so a
    digest group whose rows ALL had NULL ids would otherwise emit one
    fabricated all-NULL row (NULL struct expanded by ``__rep.*``). NULL-id
    rows can never be representatives either way; dropping them before
    the shuffle makes the contract violation visible instead of
    corrupting output -- and since round 10 it is SURFACED, not merely
    inferable from row counts (round-9 ADVICE): an ``observe`` metric
    (``exact_dedup_contract_N.null_id_rows``) counts the dropped rows on
    the same pass, zero extra jobs; consumers read it from
    ``QueryExecutionListener``/``StreamingQueryListener`` observed
    metrics, the standard data-quality channel.
    """
    obs_id = next(_OBS_SEQ)
    digest = F.sha2(F.concat_ws("\x1f", *content_cols), 256)
    return (
        df.observe(
            f"exact_dedup_contract_{obs_id}",
            F.sum(F.col(id_col).isNull().cast("bigint")).alias("null_id_rows"),
        )
        .filter(F.col(id_col).isNotNull())
        .groupBy(digest.alias("__h"))
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__rep"))
        .select("__rep.*")
    )


def shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(id, h) rows: portable 60-bit hash per k-token shingle.

    ``split`` is hoisted into a column before the shingle lambda -- HOF
    lambdas are interpreted and re-evaluate inlined subtrees per element
    (measured 4x at sf0.1), so the hoist matters.
    """
    toked = df.select(F.col(id_col).alias("id"), F.split(text_col, " ").alias("toks"))
    # guard sub-k-token docs explicitly: Spark's sequence(start, stop)
    # AUTO-DESCENDS when stop < start (sequence(1, 0) = [1, 0]), so the
    # greatest(..., 0) clamp alone still indexed past the array on 1-2
    # token documents (found by the empty-doc adversarial fixture)
    idx = F.when(
        F.size("toks") >= k,
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + j) for j in range(k)]
        ),
    )
    return toked.select("id", F.explode(shingles).alias("shingle")).select(
        "id", portable_hash(F.col("shingle")).alias("h")
    )


def minhash_signatures(
    hashed: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """MinHash signature columns sig_0..sig_{n-1} from (id, h) rows.

    One groupBy with n min-aggregates (map-side partial aggregation makes
    the shuffle one row per id regardless of document length). The hash
    family is affine: ``(a_i * h + b_i) mod P`` -- min over a multiset
    equals min over its set, so callers need NOT de-duplicate shingles.
    """
    return hashed.groupBy("id").agg(
        *[
            F.min(
                (F.lit(37 + 61 * i) * F.col("h") + F.lit(91 + 17 * i)) % PORTABLE_MOD
            ).alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame, n_bands: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band.

    Bands derive from the signature via one explode (never a per-band
    union: that would replicate the signature aggregation subtree per band
    and again per self-join side). The pairing is an equi-join on
    (band, key) -- no all-pairs comparison across the corpus exists
    anywhere in the plan.

    WITHIN a bucket, pairing is still quadratic: a bucket of m members
    emits m(m-1)/2 pairs. Real corpora make that the dominant scale
    hazard -- one boilerplate page duplicated 10M times puts all 10M
    copies in the SAME bucket of every band (identical signatures), and
    the join explodes to ~5e13 pairs. ``max_bucket`` caps it: buckets at
    or under the cap pair exhaustively as before; buckets OVER the cap
    are near-certain duplicate clusters and emit STAR pairs instead --
    every member paired with the bucket's min id, O(m) not O(m^2).
    Star pairing preserves bucket connectivity (each member reaches the
    hub), so connected-component clustering -- how dedup actually
    consumes candidate pairs -- produces identical clusters; only the
    redundant transitive pair enumeration is dropped. The cap therefore
    ASSUMES a connected-component consumer: if an over-cap bucket is not
    a pure duplicate cluster (banding false positives mixing dissimilar
    docs), member-member pairs not involving the hub are never emitted,
    and a consumer that verifies pairs INDIVIDUALLY (per-pair Jaccard
    filter, no transitive closure) would miss those candidates. Keep the
    default ``None`` for per-pair-verification pipelines. Cost of the
    cap: one extra (band, key) count+min aggregation, fully
    partial-merged. Measured: tools/skew_sweep.py (historical: since deleted),
    SCALE.md section 7d.
    Default None keeps the exhaustive semantics (q23's oracle-matched
    form).
    """
    sig_cols = [c for c in sigs.columns if c.startswith("sig_")]
    if n_bands <= 0 or not sig_cols:
        raise ValueError("need n_bands >= 1 and at least one sig_ column")
    per_band = len(sig_cols) // n_bands
    if per_band == 0:
        # every band key would be the empty string: ALL ids collide into
        # one bucket and the equi-join degenerates to the all-pairs cross
        # product this operator exists to avoid
        raise ValueError(
            f"n_bands={n_bands} exceeds the {len(sig_cols)}-hash "
            "signature width; every band key would be empty (quadratic "
            "pairing)"
        )
    if len(sig_cols) % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide the signature width "
            f"{len(sig_cols)}: trailing sig columns would be silently "
            "excluded, changing the effective collision threshold"
        )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *sig_cols[b * per_band : (b + 1) * per_band]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sigs.select("id", F.explode(band_structs).alias("bk")).select(
        "id", "bk.band", "bk.key"
    )

    def pairwise(side: DataFrame) -> DataFrame:
        a, b = side.alias("a"), side.alias("b")
        return a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    if max_bucket is None:
        return pairwise(bands).distinct()
    if max_bucket < 2:
        raise ValueError(
            f"max_bucket={max_bucket}: a bucket of 2 is the smallest that "
            "can pair at all"
        )
    # The capped plan reads bands THREE times (stats + both join sides);
    # without materialization each read re-runs the upstream shingle +
    # signature aggregation (q23's lesson, same fix)
    bands = bands.localCheckpoint(eager=True)
    # One count+min aggregation per (band, key): partial-merged, so the
    # hot bucket itself never concentrates rows on one task here.
    stats = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("__n"), F.min("id").alias("__hub")
    )
    sized = bands.join(stats, ["band", "key"])
    small = sized.filter(F.col("__n") <= max_bucket).select(
        "id", "band", "key"
    )
    # hub < id always (hub IS the bucket min), so star pairs satisfy the
    # id_a < id_b contract without a comparison
    star = sized.filter(
        (F.col("__n") > max_bucket) & (F.col("id") != F.col("__hub"))
    ).select(F.col("__hub").alias("id_a"), F.col("id").alias("id_b"))
    return pairwise(small).unionByName(star).distinct()
