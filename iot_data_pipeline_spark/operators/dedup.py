"""Deduplication operator family (north-star mandate; SURVEY.md B44/B45).

The one implementation of each text-dedup algorithm the queries use:

- ``kgrams``: word k-grams with the short-document guard. Called by
  ``shingle_hashes``, q44 (k=3), q109 (k=8), q118 (k=4), q121 and the
  BPE pair count of q131/q137 (k=2), and ``functions/udfs.explode_ngrams``.
- ``shingle_hashes``: the one 3-token shingle hasher. q25, q100 and q145
  (Jaccard over the shingle set) and q156 call it alone;
  ``shingle_hashes`` -> ``minhash_signatures`` -> ``lsh_candidate_pairs``:
  q23 (exhaustive) and q192 (``max_bucket``) compose all three.
- ``band_keys``: the LSH band frame; ``lsh_candidate_pairs`` and q156
  (``side`` carried through ``minhash_signatures`` and ``band_keys``,
  then its own history-vs-batch join) call it.

All shapes are shuffle-minimal by construction:

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

from pyspark.sql import Column, DataFrame
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


def kgrams(toks: str, k: int) -> Column:
    """Word k-grams of the token array column ``toks``: each run of ``k``
    consecutive tokens joined by one space, in document order; empty for
    a document of fewer than ``k`` tokens (or a NULL array).

    The short-document guard is explicit because Spark's
    ``sequence(start, stop)`` AUTO-DESCENDS when stop < start
    (``sequence(1, 0)`` is ``[1, 0]``), so a ``greatest(..., 0)`` clamp
    alone still indexes past the array on documents shorter than ``k``
    (found by the empty-doc adversarial fixture). ``toks`` names a
    column, not an expression: the lambda is interpreted and re-evaluates
    an inlined subtree per element, so the caller hoists ``split`` into
    its own column first (measured 4x at sf0.1).
    """
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )


def shingle_hashes(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, ..., h) rows: the portable 60-bit hash of each distinct 3-token
    shingle (the oracle's ``SHINGLES_CTE`` width) of each document, with
    ``id_col`` renamed ``id`` and every other input column except
    ``text_col`` carried through unchanged.

    - ``split(text)`` is hoisted into its own column before the shingle
      lambda runs: higher-order-function lambdas are interpreted and do
      NOT share subexpressions, so an inlined split re-tokenizes the
      document once per element (measured 4x slower at sf0.1).
    - the hash is applied inside the array, before the explode and any
      shuffle, so downstream joins move 8-byte ints, never shingle text.
    - ``array_distinct`` dedups within the row: a duplicate (id, h) can
      only come from the same document, so set semantics need no shuffle
      (a global ``.distinct()`` measured ~2x the whole stage at sf0.1).
      The Jaccard callers need the set; MinHash loses nothing, as min
      over a set equals min over the multiset.
    """
    keep = [c for c in df.columns if c not in (text_col, id_col)]
    toked = df.select(
        F.col(id_col).alias("id"), *keep, F.split(text_col, " ").alias("toks")
    )
    hashes = F.array_distinct(F.transform(kgrams("toks", 3), portable_hash))
    return toked.select("id", *keep, F.explode(hashes).alias("h"))


def minhash_signatures(
    hashed: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """MinHash signature columns sig_0..sig_{n-1} from rows of shingle
    hashes ``h``, one row per value of every other input column (``id``
    alone for ``shingle_hashes`` output; q156 keeps its ``side`` too).

    One groupBy with n min-aggregates (map-side partial aggregation makes
    the shuffle one row per key regardless of document length). The hash
    family is affine: ``(a_i * h + b_i) mod P`` -- min over a multiset
    equals min over its set, so callers need NOT de-duplicate shingles.
    """
    keys = [c for c in hashed.columns if c != "h"]
    return hashed.groupBy(*keys).agg(
        *[
            F.min(
                (F.lit(37 + 61 * i) * F.col("h") + F.lit(91 + 17 * i)) % PORTABLE_MOD
            ).alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    )


def band_keys(sigs: DataFrame, n_bands: int) -> DataFrame:
    """One (band, key) row per signature row and band, every non-``sig_``
    column kept; ``key`` joins the band's signature values with commas.

    Bands derive from the signature via one explode (never a per-band
    union: that would replicate the signature aggregation subtree per
    band and again per self-join side). The frame is materialized with
    ``localCheckpoint(eager=True)``: every consumer reads it at least
    twice (both sides of the bucket join, and the capped path's bucket
    statistics), and each read would otherwise re-run the shingling and
    the signature aggregation.
    """
    sig_cols = [c for c in sigs.columns if c.startswith("sig_")]
    keep = [c for c in sigs.columns if not c.startswith("sig_")]
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
    return (
        sigs.select(*keep, F.explode(band_structs).alias("bk"))
        .select(*keep, "bk.band", "bk.key")
        .localCheckpoint(eager=True)
    )


def lsh_candidate_pairs(
    sigs: DataFrame, n_bands: int = 4, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH band.

    The pairing is an equi-join on (band, key) over ``band_keys`` (which
    validates ``n_bands`` and materializes the bands once) -- no
    all-pairs comparison across the corpus exists anywhere in the plan.

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
    if max_bucket is not None and max_bucket < 2:
        raise ValueError(
            f"max_bucket={max_bucket}: a bucket of 2 is the smallest that "
            "can pair at all"
        )
    bands = band_keys(sigs, n_bands)

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
