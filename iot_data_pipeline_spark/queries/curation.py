"""q114-q118: corpus-curation operators a production training-data pipeline
runs between raw crawl and tokenizer -- PII redaction, paragraph-level
exact dedup, BM25 relevance scoring, sequence packing, and winnowing
fingerprints. All pure column expressions / window functions (no UDFs in
any hot path); every query carries an exact DuckDB oracle.

These generalize the reference's validate-transform-route loop
(reference app/app.py:33-72) from sensor records to text corpora: the
same shape -- per-record scalar work, grouped audits, routed outputs --
at the operators an LLM data pipeline actually needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators.dedup import kgrams
from iot_data_pipeline_spark.queries.registry import declared
from iot_data_pipeline_spark.sources.readers import read_table

#: Email / phone patterns: RE2-compatible (DuckDB) AND java.util.regex
#: (Spark) -- no backrefs, no lookarounds, so both engines match byte-alike.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "0[0-9]{3}-[0-9]{3,6}"


@declared(
    "q114_pii_redaction",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, lang,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 0555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    redacted AS (
      SELECT doc_id, lang,
             regexp_replace(
               regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g') AS clean
      FROM seeded
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(clean, '<EMAIL>')) - 1) AS BIGINT)
             AS n_emails_redacted,
           CAST(SUM(len(string_split(clean, '<PHONE>')) - 1) AS BIGINT)
             AS n_phones_redacted,
           CAST(SUM(length(clean)) AS BIGINT) AS total_clean_chars
    FROM redacted GROUP BY lang ORDER BY lang
    """,
)
def q114_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (curation north-star op): email/phone spans replaced
    with typed placeholder tokens via JVM-side ``regexp_replace`` -- the
    pattern class is deliberately RE2-and-Java compatible so the oracle
    matches byte-for-byte. PII is seeded deterministically from doc_id
    (the testdata corpus contains none), so redaction counts are exact.

    Scale notes: two regex passes over each document in one codegen span,
    no shuffle until the per-lang audit aggregate; redaction-count audit
    via split-length, not a second regex engine pass.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    seeded = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 0555-"),
            # lpad to 4 digits: a 1-2 digit suffix would fall outside
            # PHONE_RE ('0[0-9]{3}-...') and silently escape redaction.
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    redacted = seeded.select("doc_id", "lang", clean.alias("clean"))
    return (
        redacted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("clean", "<EMAIL>")) - 1)
            .cast("long")
            .alias("n_emails_redacted"),
            F.sum(F.size(F.split("clean", "<PHONE>")) - 1)
            .cast("long")
            .alias("n_phones_redacted"),
            F.sum(F.length("clean")).cast("long").alias("total_clean_chars"),
        )
        .orderBy("lang")
    )


PARA_TOKENS = 16


@declared(
    "q115_paragraph_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    paras AS (
      SELECT doc_id, source,
             md5(array_to_string(
               t[p * {PARA_TOKENS} + 1 : (p + 1) * {PARA_TOKENS}], ' ')) AS ph
      FROM toks,
           unnest(range(CAST(ceil(len(t) / {PARA_TOKENS}.0) AS BIGINT))) AS u(p)
    ),
    freq AS (
      SELECT ph, COUNT(*) AS n FROM paras GROUP BY ph
    )
    SELECT p.source,
           COUNT(*) AS n_paragraphs,
           CAST(COUNT(DISTINCT p.ph) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_dup_class,
           ROUND(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
    FROM paras p JOIN freq f USING (ph)
    GROUP BY p.source ORDER BY p.source
    """,
)
def q115_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup audit (the C4/RefinedWeb curation step
    below document-level q22): documents split into fixed token windows,
    each hashed with md5, duplicate classes found by a count-per-hash
    aggregate, and the per-source duplication ratio reported.

    Scale notes: the shuffle carries 32-byte md5 digests, never paragraph
    text (same digest-not-payload rule as q22); the frequency table joins
    back by digest -- an equi-join Spark can shuffle-hash, and the
    per-source audit is partial-aggregate friendly. At 100 TB you'd salt
    the boilerplate-paragraph hot keys (AQE skew-join handles it here).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    paras = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("t") / PARA_TOKENS).cast("int") - 1,
                ),
                lambda p: F.md5(
                    F.concat_ws(" ", F.slice("t", p * PARA_TOKENS + 1, PARA_TOKENS))
                ),
            )
        ).alias("ph"),
    )
    freq = paras.groupBy("ph").agg(F.count(F.lit(1)).alias("n"))
    joined = paras.join(freq, "ph")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.countDistinct("ph").alias("n_unique"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_in_dup_class"),
            F.round(
                F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "join", "window")


@declared(
    "q116_bm25_scoring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT AVG(CAST(dlen AS DOUBLE)) AS avgdl,
             (SELECT COUNT(*) FROM documents) AS n_docs
      FROM dl
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks
      WHERE token IN ('spark', 'join', 'window')
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
      WHERE token IN ('spark', 'join', 'window')
      GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
             SUM(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * dl.dlen / s.avgdl))
             ) AS score
      FROM tf
      JOIN df USING (token)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 4) AS bm25
    FROM scored
    ORDER BY ROUND(score, 4) DESC, doc_id
    LIMIT 10
    """,
)
def q116_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Okapi BM25, the standard lexical ranking
    function) for a fixed query over the corpus: idf from document
    frequency, tf saturation with k1=1.2, length normalization with
    b=0.75. Ranking cuts on the ROUNDED score with doc_id tie-break
    (SURVEY section 2.3 rule 1).

    Scale notes: term stats (df per query term, avgdl, N) are tiny
    aggregates broadcast back into the per-doc score; the only large
    shuffle is the tf groupBy, pre-filtered to the query's terms at the
    token stream -- at 100 TB that filter prunes >99% of the explode
    output before any exchange. Top-k is TakeOrderedAndProject, not a
    global sort.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    stats = dl.agg(F.avg(F.col("dlen").cast("double")).alias("avgdl")).crossJoin(
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
    )
    qtoks = toks.filter(F.col("token").isin(*BM25_TERMS))
    tf = qtoks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qtoks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


PACK_TOKENS = 512


@declared(
    "q117_sequence_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS start_pos
      FROM sized
    )
    SELECT CAST(start_pos // {PACK_TOKENS} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(SUM(CASE WHEN (start_pos + n_tokens - 1) // {PACK_TOKENS}
                          <> start_pos // {PACK_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
    FROM placed
    GROUP BY 1 ORDER BY 1
    """,
)
def q117_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (LLM pre-training batch prep): documents are laid
    end-to-end in doc_id order and cut into fixed context windows of 512
    tokens; each doc's pack is where its first token lands, and docs that
    straddle a cut are counted (they lose tokens to truncation or need
    attention-mask resets -- the metric packing strategies minimize).

    Scale notes: the layout is one global running sum, executed as the
    two-phase scan (operators/prefix.global_scan): range-partition
    on doc_id, per-partition local cumsum, P-row offset broadcast --
    never a single-partition window, and exact LONG arithmetic end to end.
    """
    from iot_data_pipeline_spark.operators.prefix import global_scan

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    placed = global_scan(
        sized, ["doc_id"], sum_cols={"cum_tokens": "n_tokens"}
    ).withColumn("start_pos", F.col("cum_tokens") - F.col("n_tokens"))
    pack = F.floor(F.col("start_pos") / PACK_TOKENS)
    end_pack = F.floor((F.col("start_pos") + F.col("n_tokens") - 1) / PACK_TOKENS)
    return (
        placed.groupBy(pack.alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
            F.sum(F.when(end_pack != pack, 1).otherwise(0))
            .cast("long")
            .alias("n_boundary_docs"),
        )
        .orderBy("pack_id")
    )


WINNOW_K = 4  # k-gram length
WINNOW_W = 5  # winnowing window


def _winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints of (doc_id, text) rows:
    the md5 hex of each WINNOW_K-token gram, and the minimum of each full
    window of WINNOW_W consecutive grams."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id", F.posexplode(kgrams("t", WINNOW_K)).alias("pos", "gram")
    ).select("doc_id", "pos", F.md5("gram").alias("gh"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    winmin = grams.select(
        "doc_id",
        F.min("gh").over(w).alias("fp"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).filter(F.col("wn") == WINNOW_W)
    return winmin.select("doc_id", "fp").distinct()


@declared(
    "q118_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 2 = 0
    ),
    grams AS (
      SELECT doc_id, p AS pos,
             md5(array_to_string(t[p + 1 : p + {WINNOW_K}], ' ')) AS gh
      FROM toks, unnest(range(len(t) - {WINNOW_K} + 1)) AS u(p)
      WHERE len(t) >= {WINNOW_K}
    ),
    winmin AS (
      SELECT doc_id, pos,
             MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS wn
      FROM grams
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM winmin WHERE wn = {WINNOW_W}
    )
    SELECT doc_id, COUNT(*) AS n_fingerprints
    FROM fps GROUP BY doc_id ORDER BY doc_id
    """,
)
def q118_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local fingerprinting
    algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every k-gram,
    keep the minimum hash of each sliding window of w consecutive grams,
    dedupe -- a guaranteed-coverage sketch for substring-level overlap
    detection, one step past q29's whole-doc fingerprint.

    Cross-engine exactness: the winnowing SELECTION (which gram is the
    window minimum) depends on hash ordering, so both engines must hash
    identically -- md5 hex strings compare lexicographically the same in
    Spark and DuckDB. Inside one engine at scale you'd swap md5 for
    ``xxhash64`` (8-byte fingerprints, 4x narrower shuffle rows) without
    changing the algorithm; md5 here is the cross-engine-checkable choice.

    Scale notes: grams and window-mins are computed per doc partition
    (partitionBy doc_id), so no global sort; the fingerprint set shrinks
    the token stream by ~1/w before any cross-doc work.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return (
        _winnowing_fingerprints(docs)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
        .orderBy("doc_id")
    )


@declared(
    "q119_incremental_dedup",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
      SELECT doc_id, source, md5(text) AS digest FROM documents
      WHERE doc_id % 5 = 0
    ),
    flagged AS (
      SELECT b.doc_id, b.source,
             CASE WHEN h.digest IS NULL THEN 0 ELSE 1 END AS is_dup
      FROM batch b LEFT JOIN hist h ON b.digest = h.digest
    )
    SELECT source,
           COUNT(*) AS n_batch,
           CAST(SUM(is_dup) AS BIGINT) AS n_already_seen,
           CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_admitted
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def q119_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus update (the production dedup shape q22 feeds):
    an arriving batch is checked against the HISTORICAL digest index with
    a left join on content digest -- admitted docs are the anti-join side.
    Here history = docs with doc_id % 5 != 0 and the arriving batch is the
    rest, so the oracle can state both sides from one table.

    Scale notes: the historical index is a digest-only table (32 bytes a
    row for billions of docs -- parquet-compact, bucketable by digest so
    repeated daily batches join shuffle-free with ``bucketBy``; the
    engine's operators/bucketing.py is historical: deleted, no caller
    outside tests).
    The batch side shuffles digests, never text. A bloom filter over the
    index (session conf enables Spark's runtime bloom pushdown) prunes
    the probe side before the exchange at real scale.
    """
    docs = read_table(spark, sf_dir, "documents")
    hist = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    flagged = batch.join(hist, "digest", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0)))
            .cast("long")
            .alias("n_already_seen"),
            (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("seen"), F.lit(0))))
            .cast("long")
            .alias("n_admitted"),
        )
        .orderBy("source")
    )


@declared(
    "q120_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents WHERE doc_id % 4 = 0
    ),
    counts AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, SUM(n) AS total FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(t.total AS BIGINT) AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           ROUND(-SUM((n / CAST(total AS DOUBLE))
                      * ln(n / CAST(total AS DOUBLE))), 4) AS char_entropy
    FROM counts c JOIN tot t ON c.doc_id = t.doc_id
    GROUP BY c.doc_id, t.total ORDER BY c.doc_id
    """,
)
def q120_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document -- the cheap
    perplexity proxy quality filters use to catch gibberish (too low:
    repeated characters; too high: random bytes). Pure explode + two
    aggregations; entropy arithmetic is one codegen span, ROUND(4)
    fencing the ln() libm ulp per SURVEY section 2.3 rule 2.

    Scale notes: the char explode is the widest stream in the suite
    (one row per character) but it carries (doc_id, 1-char string) only
    and collapses immediately in a partial+final count -- the shuffle is
    per-doc distinct chars (~vocab-bounded), not corpus characters.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.groupBy("doc_id").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total").cast("double")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.round(-F.sum(p * F.log(p)), 4).alias("char_entropy"),
        )
        .select(
            "doc_id",
            F.col("total").cast("long").alias("n_chars_counted"),
            "n_distinct_chars",
            "char_entropy",
        )
        .orderBy("doc_id")
    )


#: target corpus mix per source (sums to 1); the rebalance op computes
#: per-source sampling weights to move the ACTUAL mix to this target.
TARGET_MIX = {"web": 0.4, "book": 0.3, "code": 0.2, "wiki": 0.1}


@declared(
    "q122_mix_rebalance",
    oracle=f"""
    WITH actual AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS all_tokens FROM actual),
    target(source, share) AS (VALUES
      ('web', 0.4), ('book', 0.3), ('code', 0.2), ('wiki', 0.1)
    )
    SELECT a.source,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           ROUND(a.n_tokens / CAST(t.all_tokens AS DOUBLE), 4) AS actual_share,
           COALESCE(g.share, 0.0) AS target_share,
           ROUND(COALESCE(g.share, 0.0)
                 / (a.n_tokens / CAST(t.all_tokens AS DOUBLE)), 4)
             AS sample_weight
    FROM actual a
    CROSS JOIN tot t
    LEFT JOIN target g ON a.source = g.source
    ORDER BY a.source
    """,
)
def q122_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing (training-mixture prep): per-source token
    shares vs a declared target mix -> per-source sampling weight
    (target/actual; >1 = upsample, <1 = downsample). The weight column is
    exactly what a weighted sampler (q94's shape) consumes downstream.

    Scale notes: one aggregation over the corpus (partial+final on
    source -- a handful of groups), a 1-row total, and a literal target
    table; everything after the groupBy is broadcast arithmetic.
    """
    docs = read_table(spark, sf_dir, "documents")
    actual = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    tot = actual.agg(F.sum("n_tokens").alias("all_tokens"))
    target = spark.createDataFrame(
        list(TARGET_MIX.items()), "source string, target_share double"
    )
    share = F.col("n_tokens") / F.col("all_tokens").cast("double")
    return (
        actual.crossJoin(F.broadcast(tot))
        .join(F.broadcast(target), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 4).alias("actual_share"),
            F.coalesce(F.col("target_share"), F.lit(0.0)).alias("target_share"),
            F.round(
                F.coalesce(F.col("target_share"), F.lit(0.0)) / share, 4
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


@declared(
    "q121_repetition_rules",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 6 = 0
    ),
    bigrams AS (
      SELECT doc_id,
             t[p + 1] || ' ' || t[p + 2] AS bg
      FROM toks, unnest(range(len(t) - 1)) AS u(p)
      WHERE len(t) >= 2
    ),
    bg_counts AS (
      SELECT doc_id, bg, COUNT(*) AS n FROM bigrams GROUP BY doc_id, bg
    ),
    bg_stats AS (
      SELECT doc_id, MAX(n) AS top_bg, SUM(n) AS total_bg
      FROM bg_counts GROUP BY doc_id
    ),
    runs AS (
      SELECT doc_id, p, t[p + 1] AS tok,
             CASE WHEN p = 0 OR t[p + 1] <> t[p] THEN 1 ELSE 0 END AS brk
      FROM toks, unnest(range(len(t))) AS u(p)
    ),
    run_ids AS (
      SELECT doc_id, tok,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
      FROM runs
    ),
    run_lens AS (
      SELECT doc_id, MAX(cnt) AS max_run FROM (
        SELECT doc_id, rid, COUNT(*) AS cnt FROM run_ids GROUP BY doc_id, rid
      ) GROUP BY doc_id
    )
    SELECT s.doc_id,
           ROUND(s.top_bg / CAST(s.total_bg AS DOUBLE), 4) AS top_bigram_frac,
           CAST(r.max_run AS BIGINT) AS max_token_run,
           CAST(s.top_bg / CAST(s.total_bg AS DOUBLE) <= 0.18
                AND r.max_run <= 4 AS BOOLEAN) AS passes_repetition
    FROM bg_stats s JOIN run_lens r ON s.doc_id = r.doc_id
    ORDER BY s.doc_id
    """,
)
def q121_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules (the Gopher-rules family): fraction
    of bigram mass held by the single most frequent bigram, and the
    longest run of identical consecutive tokens -- boilerplate and
    keyword-stuffing both trip one of the two. The pass/fail verdict
    column is the gate a curation pipeline filters on.

    Scale notes: bigram stats are two partial-aggregate-friendly
    groupBys over (doc_id, bigram); the run detection is the island
    trick (lag-break + running sum) inside a doc-partitioned window --
    no global window, no UDFs.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = toks.select("doc_id", F.explode(kgrams("t", 2)).alias("bg"))
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_bg"), F.sum("n").alias("total_bg"))
    )
    runs = toks.select(
        "doc_id",
        F.posexplode("t").alias("p", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    run_lens = (
        runs.withColumn(
            "brk",
            F.when(
                F.lag("tok").over(w).isNull()
                | (F.col("tok") != F.lag("tok").over(w)),
                1,
            ).otherwise(0),
        )
        .withColumn("rid", F.sum("brk").over(wsum))
        .groupBy("doc_id", "rid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_run"))
    )
    frac = F.col("top_bg") / F.col("total_bg").cast("double")
    return (
        bg_stats.join(run_lens, "doc_id")
        .select(
            "doc_id",
            F.round(frac, 4).alias("top_bigram_frac"),
            F.col("max_run").cast("long").alias("max_token_run"),
            ((frac <= 0.18) & (F.col("max_run") <= 4)).alias("passes_repetition"),
        )
        .orderBy("doc_id")
    )


#: Host pattern shared by q128's Spark and oracle sides: RE2 (DuckDB) and
#: java.util.regex (Spark) compatible -- no lookarounds/backrefs.
HOST_RE = "^https?://([^/]+)"


@declared(
    "q128_domain_quota",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id, n_chars,
             'https://' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
                || '.example.' || CASE doc_id % 3 WHEN 0 THEN 'com'
                                                 WHEN 1 THEN 'org'
                                                 ELSE 'net' END
                || '/page/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    hosted AS (
      SELECT doc_id, n_chars, regexp_extract(url, '{HOST_RE}', 1) AS host
      FROM seeded
    ),
    allowed AS (
      SELECT * FROM hosted
      WHERE host NOT LIKE '%.example.net'
        AND host NOT IN ('src0-0.example.com', 'src1-1.example.org')
    ),
    capped AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rk
      FROM allowed
    )
    SELECT host,
           CAST(COUNT(*) FILTER (WHERE rk <= 25) AS BIGINT) AS n_kept,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(n_chars) FILTER (WHERE rk <= 25) AS BIGINT) AS kept_chars
    FROM capped GROUP BY host ORDER BY host
    """,
)
def q128_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation (the CommonCrawl-pipeline shape): extract the
    host from each document URL, drop blocklisted domains (TLD pattern +
    explicit list), then cap each surviving domain at 25 documents keeping
    the longest first -- the standard guard against a single crawler trap
    or SEO farm dominating a training mix. URLs are seeded
    deterministically from doc_id/source (the testdata corpus has none).

    Scale notes: host extraction is one JVM-side regexp in the scan
    projection; the explicit blocklist is a broadcast anti join (a real
    million-entry blocklist still broadcasts at ~tens of MB); the
    per-domain cap is a window over the host shuffle -- the same single
    shuffle the final per-host audit reuses. At 100 TB the quota window
    processes each host partition independently, so skew is bounded by
    the largest single domain, the quantity this operator exists to cap.
    """
    docs = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example."),
        F.when(F.col("doc_id") % 3 == 0, "com")
        .when(F.col("doc_id") % 3 == 1, "org")
        .otherwise("net"),
        F.lit("/page/"),
        F.col("doc_id").cast("string"),
    )
    hosted = docs.select(
        "doc_id",
        "n_chars",
        F.regexp_extract(url, HOST_RE, 1).alias("host"),
    )
    blocklist = spark.createDataFrame(
        [("src0-0.example.com",), ("src1-1.example.org",)], "blocked_host string"
    )
    allowed = hosted.filter(~F.col("host").like("%.example.net")).join(
        F.broadcast(blocklist),
        F.col("host") == F.col("blocked_host"),
        "left_anti",
    )
    rk = F.row_number().over(
        Window.partitionBy("host").orderBy(F.desc("n_chars"), "doc_id")
    )
    capped = allowed.withColumn("rk", rk)
    return (
        capped.groupBy("host")
        .agg(
            F.count(F.when(F.col("rk") <= 25, 1)).alias("n_kept"),
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum(F.when(F.col("rk") <= 25, F.col("n_chars")))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("host")
    )


@declared(
    "q129_k_anonymity_audit",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(FLOOR(n_chars / 50.0) AS BIGINT) AS len_bucket,
             COUNT(*) AS cell_n
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) FILTER (WHERE cell_n < 5) AS BIGINT) AS unsafe_cells,
           CAST(COALESCE(SUM(cell_n) FILTER (WHERE cell_n < 5), 0) AS BIGINT)
             AS unsafe_docs,
           CAST(MIN(cell_n) AS BIGINT) AS min_cell_size
    FROM cells GROUP BY lang ORDER BY lang
    """,
)
def q129_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier cells (privacy gate a
    training-data release pipeline runs before publishing): bucket the
    corpus by (lang, source, length-bucket), count cell sizes, and report
    per-language how many cells fall under k=5 -- documents in those
    cells are re-identification risks and get suppressed or generalized
    downstream.

    Scale notes: two cascaded hash aggregates (cell then lang), both
    partial-aggregate friendly; no window, no join. The QI cell count is
    bounded by the attribute-domain product, not corpus size, so the
    second aggregate is tiny at any SF.
    """
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(50)).cast("long").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("cell_n"))
    return (
        cells.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.count(F.when(F.col("cell_n") < 5, 1)).alias("unsafe_cells"),
            F.coalesce(
                F.sum(F.when(F.col("cell_n") < 5, F.col("cell_n"))), F.lit(0)
            )
            .cast("long")
            .alias("unsafe_docs"),
            F.min("cell_n").alias("min_cell_size"),
        )
        .orderBy("lang")
    )


@declared(
    "q132_ngram_perplexity",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    big AS (
      SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
      FROM words, LATERAL UNNEST(range(1, len(w))) AS t(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    docbig AS (
      SELECT doc_id, w1, w2, COUNT(*) AS cd FROM big GROUP BY doc_id, w1, w2
    )
    SELECT d.doc_id,
           CAST(SUM(d.cd) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(d.cd * (log2(CAST(c12.c12 AS DOUBLE))
                              - log2(CAST(c1.c1 AS DOUBLE)))) / SUM(d.cd), 4)
             AS bits_per_bigram
    FROM docbig d
    JOIN c12 ON d.w1 = c12.w1 AND d.w2 = c12.w2
    JOIN c1 ON d.w1 = c1.w1
    GROUP BY d.doc_id
    HAVING SUM(d.cd) > 0
    ORDER BY d.doc_id
    """,
)
def q132_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality score: train a word-bigram language
    model on the corpus itself (two hash aggregates over the bigram
    stream), then score every document by its cross-entropy under that
    model -- bits per bigram, low = in-distribution, high = outlier /
    boilerplate / junk. The standard cheap stand-in for the KenLM
    perplexity filter in web-corpus curation.

    Exactness: all counts are integers; the only floats are log2 of
    integer counts, summed per doc and rounded AFTER the final division
    (SURVEY.md section 2.3 rule 1).

    Scale plan: the model tables (c12, c1) are vocabulary-bounded, not
    corpus-bounded, so both broadcast; the per-doc aggregate is one
    shuffle on doc_id with map-side partials. The bigram explode is the
    inherent cost and it is linear, map-side, and codegen'd (no UDFs).
    Generalizes the reference's per-record quality gate
    (reference app/app.py:33-56) from field checks to distributional
    checks.
    """
    docs = read_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    big = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))).alias("w1"),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    docbig = big.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cd")
    )
    bits = F.col("cd") * (
        F.log2(F.col("c12").cast("double")) - F.log2(F.col("c1").cast("double"))
    )
    return (
        docbig.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), ["w1"])
        .groupBy("doc_id")
        .agg(
            F.sum("cd").cast("bigint").alias("n_bigrams"),
            F.round(-F.sum(bits) / F.sum("cd"), 4).alias("bits_per_bigram"),
        )
        .filter(F.col("n_bigrams") > 0)
        .orderBy("doc_id")
    )


@declared(
    "q147_curation_dashboard",
    oracle="""
    WITH scored AS (
      SELECT source,
             md5(text) AS digest,
             len(string_split(text, ' ')) AS n_tokens,
             ROUND(0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / len(string_split(text, ' ')))
                   + 0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0)
                   + 0.2 * least((CAST(length(text) - len(string_split(text, ' ')) + 1
                                      AS DOUBLE)
                                  / len(string_split(text, ' '))) / 8, 1.0),
                   4) AS quality
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT digest) AS BIGINT) AS exact_dup_docs,
           ROUND(1.0 - CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 4)
             AS dup_rate,
           ROUND(AVG(quality), 4) AS avg_quality,
           ROUND(AVG(CAST(n_tokens AS DOUBLE)), 2) AS avg_tokens
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q147_curation_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health rollup -- the dashboard a curation team
    watches per crawl batch: document count, exact-duplicate count and
    rate (text digests), mean q28 quality, mean token length. One
    grouped aggregate composing the dedup and quality primitives; the
    digest distinct-count is the only state beyond constant counters,
    and it shuffles 16-byte digests, never text.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text")
    quality = F.round(
        0.5 * (n_distinct.cast("double") / n_tokens)
        + 0.3 * F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        + 0.2
        * F.least(
            ((n_chars - n_tokens + 1).cast("double") / n_tokens) / 8, F.lit(1.0)
        ),
        4,
    )
    scored = docs.select(
        "source",
        F.md5("text").alias("digest"),
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("digest"))
            .cast("bigint")
            .alias("exact_dup_docs"),
            F.round(
                1.0
                - F.countDistinct("digest").cast("double") / F.count(F.lit(1)),
                4,
            ).alias("dup_rate"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 2).alias(
                "avg_tokens"
            ),
        )
        .orderBy("source")
    )


@declared(
    "q153_bloom_incremental_dedup",
    oracle="""
    WITH hist AS (
      SELECT md5(text) AS dg FROM documents
      WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    bloom AS (
      SELECT ((CAST(('0x' || substr(md5(dg || '#' || tk.i), 1, 15)) AS BIGINT)
               % 1000000007) % 8192) // 32 AS word,
             CAST(bit_or(1 << (((CAST(('0x' || substr(md5(dg || '#' || tk.i),
                                                      1, 15)) AS BIGINT)
                                 % 1000000007) % 8192) % 32)) AS BIGINT)
               AS bits
      FROM hist, range(3) tk(i)
      GROUP BY 1
    ),
    batch AS (
      SELECT doc_id, source, md5(text) AS dg
      FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
    ),
    probes AS (
      SELECT b.doc_id, b.source, b.dg, tk.i,
             ((CAST(('0x' || substr(md5(b.dg || '#' || tk.i), 1, 15)) AS BIGINT)
               % 1000000007) % 8192) AS bit
      FROM batch b, range(3) tk(i)
    ),
    hits AS (
      SELECT p.doc_id, p.source, p.dg,
             CAST(SUM(CASE WHEN (COALESCE(bl.bits, 0)
                                 & (1 << (p.bit % 32))) <> 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_set
      FROM probes p LEFT JOIN bloom bl ON bl.word = p.bit // 32
      GROUP BY p.doc_id, p.source, p.dg
    ),
    verdicts AS (
      SELECT h.doc_id, h.source,
             CASE WHEN h.n_set = 3 THEN 1 ELSE 0 END AS maybe,
             CASE WHEN EXISTS (SELECT 1 FROM hist x WHERE x.dg = h.dg)
                  THEN 1 ELSE 0 END AS is_dup
      FROM hits h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(maybe) AS BIGINT) AS n_maybe,
           CAST(SUM(is_dup) AS BIGINT) AS n_true_dup,
           CAST(SUM(maybe) - SUM(is_dup) AS BIGINT) AS n_false_pos
    FROM verdicts
    GROUP BY source ORDER BY source
    """,
)
def q153_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for incremental dedup -- the constant-size
    tier BELOW q119's digest-index join: the historical corpus is folded
    into an 8192-bit Bloom filter (k=3 portable-hash probes, bits packed
    into 256 x 32-bit words via bit_or), and an arriving batch is screened
    against it. Output per source: batch size, bloom-positives, true
    duplicates (exact digest join, the audit branch), and false positives.
    The construction is replicated bit-for-bit in the DuckDB oracle, which
    therefore also PROVES the no-false-negative invariant on this corpus
    (n_maybe >= n_true_dup row by row).

    Scale story: the filter is ~1 KB regardless of history size and builds
    with one map-side-combined shuffle (bit_or is commutative/associative
    -- the same mergeability argument as b03's HLL sketches); the batch
    probe is a broadcast join against <= 256 counter rows, so the arriving
    batch never shuffles. At 100 TB you size m to the digest cardinality
    (m/n ~ 10 bits/key keeps FP < 1%) and only bloom-positives proceed to
    the exact q119 index join -- the classic two-tier membership plan.
    Word width is 32 bits so `1 << bit` stays positive in both engines'
    signed-64 arithmetic (no sign-bit portability edge).

    Reference parity: the reference re-reads the full corpus per run
    (`app/app.py:29-43`); an incremental arrival path needs exactly this
    membership structure.
    """
    from iot_data_pipeline_spark.functions.hashing import portable_hash

    m = 8192
    # NULL documents are excluded from BOTH the history fold and the
    # arriving batch (both sides): a membership question about a NULL
    # digest is meaningless, and its NULL probe bits would poison the
    # verdict counts (round-7 NULL fixture).
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    hist = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("dg")
    )

    def bit_at(dg: "F.Column", i: int) -> "F.Column":
        return portable_hash(F.concat(dg, F.lit(f"#{i}"))) % m

    bloom = (
        hist.select(
            F.explode(F.array(*[bit_at(F.col("dg"), i) for i in range(3)])).alias(
                "bit"
            )
        )
        .groupBy((F.col("bit") / 32).cast("long").alias("word"))
        .agg(
            F.bit_or(F.expr("shiftleft(1L, CAST(bit % 32 AS INT))"))
            .cast("long")
            .alias("bits")
        )
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", F.md5("text").alias("dg")
    )
    probes = batch.select(
        "doc_id",
        "source",
        "dg",
        F.explode(F.array(*[bit_at(F.col("dg"), i) for i in range(3)])).alias("bit"),
    )
    hits = (
        probes.withColumn("word", (F.col("bit") / 32).cast("long"))
        .join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "set",
            (
                F.coalesce(F.col("bits"), F.lit(0).cast("long")).bitwiseAND(
                    F.expr("shiftleft(1L, CAST(bit % 32 AS INT))")
                )
                != 0
            ).cast("int"),
        )
        .groupBy("doc_id", "source", "dg")
        .agg(F.sum("set").alias("n_set"))
    )
    verdicts = hits.join(
        hist.distinct().withColumn("is_dup", F.lit(1)), "dg", "left"
    ).select(
        "doc_id",
        "source",
        (F.col("n_set") == 3).cast("int").alias("maybe"),
        F.coalesce(F.col("is_dup"), F.lit(0)).alias("is_dup"),
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batch"),
            F.sum("maybe").cast("bigint").alias("n_maybe"),
            F.sum("is_dup").cast("bigint").alias("n_true_dup"),
            (F.sum("maybe") - F.sum("is_dup")).cast("bigint").alias("n_false_pos"),
        )
        .orderBy("source")
    )


@declared(
    "q155_url_canonicalize",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS h,
             '/p/' || CAST(doc_id % 50 AS VARCHAR) AS pth
      FROM documents
    ),
    urls AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'https://' || h || pth
               WHEN 1 THEN 'HTTPS://WWW.' || h || pth || '#frag'
               WHEN 2 THEN 'https://' || h || ':443' || pth
                           || '?utm_source=feed&fbclid=xyz'
               WHEN 3 THEN 'https://' || h || pth || '?b=2&a=1'
               ELSE 'http://' || h || ':80' || pth || '?a=1&b=2&gclid=g'
             END AS url
      FROM seeded
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS pth,
             regexp_extract(url, '\?([^#]*)', 1) AS qs
      FROM urls
    ),
    normed AS (
      SELECT doc_id, scheme, pth,
             regexp_replace(
               regexp_replace(hostport, '^www\.', ''),
               CASE WHEN scheme = 'https' THEN ':443$' ELSE ':80$' END,
               '') AS host,
             CASE WHEN qs = '' THEN ''
                  ELSE COALESCE(array_to_string(
                         list_sort(list_filter(
                           string_split(qs, '&'),
                           p -> NOT regexp_matches(
                                  p, '^(utm_[^=]*|fbclid|gclid)='))),
                         '&'), '')
             END AS params
      FROM parts
    ),
    canon AS (
      SELECT doc_id, host,
             scheme || '://' || host || pth
               || CASE WHEN params = '' THEN '' ELSE '?' || params END
               AS curl
      FROM normed
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS n_dup_variants
    FROM canon
    GROUP BY host ORDER BY host
    """,
)
def q155_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup -- the crawl-curation step BEFORE content
    dedup: syntactic variants of one logical URL (scheme/host case, www.
    prefix, default :443/:80 ports, fragments, tracking params, query-param
    order) must collapse to one canonical key or the crawler re-fetches and
    the corpus double-counts. Variants are seeded deterministically from
    doc_id (5 variant families per logical page); canonicalization is
    lower(scheme/host) + strip www./default port + drop fragment + drop
    utm_*/fbclid/gclid + sort surviving params; output per host: raw URLs,
    canonical URLs, and collapsed variant count.

    All steps are JVM-side regexp/array expressions in the scan projection
    (the lambda param filter runs in codegen, not Python); the only shuffle
    is the final per-host aggregate -- COUNT(DISTINCT curl) is Spark's
    two-phase expand-aggregate, partials map-side. At 100 TB the canonical
    key would feed q22's exact dedup or q153's Bloom screen directly; this
    query IS the key function, oracle-checked against an independent SQL
    restatement (Spark: array_sort/filter HOFs; DuckDB: list_sort/
    list_filter).

    Reference parity: none -- the reference has no URL handling; this is
    north-star crawl curation next to q128's domain quotas.
    """
    docs = read_table(spark, sf_dir, "documents")
    h = F.concat(
        F.lit("site"), (F.col("doc_id") % 20).cast("string"), F.lit(".example.com")
    )
    pth = F.concat(F.lit("/p/"), (F.col("doc_id") % 50).cast("string"))
    url = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("https://"), h, pth))
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("HTTPS://WWW."), h, pth, F.lit("#frag")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://"), h, F.lit(":443"), pth,
                F.lit("?utm_source=feed&fbclid=xyz"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://"), h, pth, F.lit("?b=2&a=1")),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), h, F.lit(":80"), pth, F.lit("?a=1&b=2&gclid=g")
            )
        )
    )
    parts = docs.select(
        "doc_id",
        F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1)).alias("scheme"),
        F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)).alias(
            "hostport"
        ),
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1).alias("pth"),
        F.regexp_extract(url, r"\?([^#]*)", 1).alias("qs"),
    )
    host = F.regexp_replace(
        F.regexp_replace(F.col("hostport"), r"^www\.", ""),
        F.when(F.col("scheme") == "https", F.lit(":443$")).otherwise(F.lit(":80$")),
        F.lit(""),
    )
    params = F.when(F.col("qs") == "", F.lit("")).otherwise(
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split("qs", "&"),
                    lambda p: ~p.rlike("^(utm_[^=]*|fbclid|gclid)="),
                )
            ),
            "&",
        )
    )
    canon = parts.select(
        host.alias("host"),
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            host,
            F.col("pth"),
            F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"), params)),
        ).alias("curl"),
    )
    return (
        canon.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("curl").cast("bigint").alias("n_canonical"),
            (F.count(F.lit(1)) - F.countDistinct("curl"))
            .cast("bigint")
            .alias("n_dup_variants"),
        )
        .orderBy("host")
    )


@declared(
    "q157_padding_waste",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    naive AS (
      SELECT *, (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1)
                // 8 AS batch
      FROM toks
    ),
    bucketed AS (
      SELECT *, (ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_tok, doc_id) - 1)
                // 8 AS batch
      FROM toks
    ),
    nb AS (
      SELECT 'arrival_order' AS strategy, source, batch,
             CAST(COUNT(*) * MAX(n_tok) AS BIGINT) AS padded,
             CAST(SUM(n_tok) AS BIGINT) AS useful
      FROM naive GROUP BY source, batch
      UNION ALL
      SELECT 'length_bucketed' AS strategy, source, batch,
             CAST(COUNT(*) * MAX(n_tok) AS BIGINT) AS padded,
             CAST(SUM(n_tok) AS BIGINT) AS useful
      FROM bucketed GROUP BY source, batch
    )
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(useful) AS BIGINT) AS useful_tokens,
           CAST(SUM(padded) AS BIGINT) AS padded_tokens,
           ROUND(1.0 - SUM(useful) / CAST(SUM(padded) AS DOUBLE), 4)
             AS waste_ratio
    FROM nb GROUP BY strategy ORDER BY strategy
    """,
)
def q157_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for batched inference/training: documents are
    grouped into 8-doc batches two ways -- arrival order vs sorted by
    token length within source -- and each strategy's padded-token bill
    (every batch pads to its own max length) is compared. Length
    bucketing is the standard serving trick; this query MEASURES the
    waste it removes on this corpus rather than asserting it.

    Scale notes: both strategies use per-source windows (a real pipeline
    buckets within shard/source anyway -- a global sort would be the
    `operators/prefix.py` two-phase shape if ever needed); token counts
    are a JVM split-size, text never shuffles -- the window carries
    (source, n_tok, doc_id) only. Two window passes + one aggregate; the
    waste accounting is exact integer arithmetic.

    Reference parity: none (reference has no batching concept) --
    north-star serving-efficiency op beside q117's sequence packing.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    w_naive = Window.partitionBy("source").orderBy("doc_id")
    w_buck = Window.partitionBy("source").orderBy("n_tok", "doc_id")

    def batched(df: DataFrame, w, strategy: str) -> DataFrame:
        return (
            df.withColumn("batch", ((F.row_number().over(w) - 1) / 8).cast("long"))
            .groupBy("source", "batch")
            .agg(
                (F.count(F.lit(1)) * F.max("n_tok")).cast("bigint").alias("padded"),
                F.sum("n_tok").cast("bigint").alias("useful"),
            )
            .withColumn("strategy", F.lit(strategy))
        )

    nb = batched(toks, w_naive, "arrival_order").unionByName(
        batched(toks, w_buck, "length_bucketed")
    )
    return (
        nb.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("useful").cast("bigint").alias("useful_tokens"),
            F.sum("padded").cast("bigint").alias("padded_tokens"),
            F.round(
                1.0 - F.sum("useful") / F.sum("padded").cast("double"), 4
            ).alias("waste_ratio"),
        )
        .orderBy("strategy")
    )


@declared(
    "q158_span_corruption",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < 100 AND text IS NOT NULL
    ),
    marked AS (
      SELECT doc_id, len(t) AS n_tokens,
             list_transform(range(0, len(t)),
               p -> CASE WHEN (p + doc_id) % 10 = 0 THEN '<X> ' || t[p + 1]
                         WHEN (p + doc_id) % 10 = 1 THEN NULL
                         ELSE t[p + 1] END) AS corrupted_parts,
             list_transform(range(0, len(t)),
               p -> CASE WHEN (p + doc_id) % 10 = 0 THEN '<X> ' || t[p + 1]
                         WHEN (p + doc_id) % 10 = 1 THEN t[p + 1]
                         ELSE NULL END) AS target_parts,
             len(list_filter(range(0, len(t)),
                             p -> (p + doc_id) % 10 = 0)) AS n_spans,
             len(list_filter(range(0, len(t)),
                             p -> (p + doc_id) % 10 <= 1)) AS n_masked
      FROM toks
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_masked AS BIGINT) AS n_masked,
           md5(COALESCE(array_to_string(
                 list_filter(corrupted_parts, x -> x IS NOT NULL),
                 ' '), '')) AS corrupted_md5,
           md5(COALESCE(array_to_string(
                 list_filter(target_parts, x -> x IS NOT NULL),
                 ' '), '')) AS target_md5
    FROM marked ORDER BY doc_id
    """,
)
def q158_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption augmentation (the T5/UL2 denoising objective's data
    prep): deterministic spans -- positions p with (p + doc_id) % 10 in
    {0, 1}, i.e. one 2-token span per 10 tokens -- are cut out of each
    document; the corrupted input keeps a sentinel at each span start and
    the target carries sentinel + original span tokens. Corruption rate
    and span starts are pure arithmetic on the position (no RNG: the
    'randomness' at deploy is a portable hash of (doc_id, p), exactly the
    q48/q94 hash-decision pattern), so BOTH assembled strings are
    restatable in SQL and checked by md5, not length heuristics.

    Scale notes: everything is per-row array HOF work in the scan
    projection -- transform/filter/join over the token array, zero
    shuffles before the ORDER BY, zero Python. Token arrays are sliced
    views of the split; the corrupted/target strings materialize once
    per row. This is the map stage a denoising-objective training
    pipeline fuses right before q117's sequence packing.

    Reference parity: none -- north-star augmentation op
    (SURVEY section 2.2 B47 text family).

    Degenerate-input contract (round-7 NULL fixture): NULL documents are
    excluded both sides, and the oracle COALESCEs the assembled strings
    to '' -- a doc too short to contain any span has an EMPTY target
    (md5('')), but DuckDB's array_to_string([]) is NULL where Spark's
    array_join is '' (the corpus-twin divergence class from round 6).
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & F.col("text").isNotNull()
    )
    t = F.split("text", " ")
    pos = F.sequence(F.lit(0), F.size(t) - 1)
    tok_at = lambda p: F.element_at(t, (p + 1).cast("int"))  # noqa: E731
    sent = lambda p: F.concat(F.lit("<X> "), tok_at(p))  # noqa: E731
    corrupted_parts = F.transform(
        pos,
        lambda p: F.when((p + F.col("doc_id")) % 10 == 0, sent(p))
        .when((p + F.col("doc_id")) % 10 == 1, F.lit(None).cast("string"))
        .otherwise(tok_at(p)),
    )
    target_parts = F.transform(
        pos,
        lambda p: F.when((p + F.col("doc_id")) % 10 == 0, sent(p))
        .when((p + F.col("doc_id")) % 10 == 1, tok_at(p))
        .otherwise(F.lit(None).cast("string")),
    )
    n_spans = F.size(
        F.filter(pos, lambda p: (p + F.col("doc_id")) % 10 == 0)
    )
    n_masked = F.size(
        F.filter(pos, lambda p: (p + F.col("doc_id")) % 10 <= 1)
    )
    return docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        n_spans.cast("bigint").alias("n_spans"),
        n_masked.cast("bigint").alias("n_masked"),
        F.md5(
            F.array_join(F.filter(corrupted_parts, lambda x: x.isNotNull()), " ")
        ).alias("corrupted_md5"),
        F.md5(
            F.array_join(F.filter(target_parts, lambda x: x.isNotNull()), " ")
        ).alias("target_md5"),
    ).orderBy("doc_id")


@declared(
    "q162_vlm_interleave_audit",
    oracle="""
    WITH items AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS text_tok,
             CASE WHEN doc_id % 3 = 0 THEN 64 ELSE 0 END AS img_tok
      FROM documents WHERE doc_id < 400
    ),
    placed AS (
      SELECT doc_id, source, text_tok, img_tok,
             SUM(text_tok + img_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM items
    ),
    audited AS (
      SELECT source,
             (cum - text_tok - img_tok) // 256 AS window_id,
             text_tok, img_tok,
             CASE WHEN img_tok > 0
                   AND (cum - img_tok) // 256 <> (cum - 1) // 256
                  THEN 1 ELSE 0 END AS straddled
      FROM placed
    )
    SELECT source,
           CAST(MAX(window_id) + 1 AS BIGINT) AS n_windows,
           CAST(SUM(text_tok) AS BIGINT) AS text_tokens,
           CAST(SUM(CASE WHEN img_tok > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_images,
           CAST(SUM(straddled) AS BIGINT) AS n_straddled_images
    FROM audited GROUP BY source ORDER BY source
    """,
)
def q162_vlm_interleave_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text sequence assembly for VLM training (the
    multimodal extension of q117's text packing): each document
    contributes its text tokens plus, for every third doc, a 64-token
    image patch block appended after the text (the standard vision-token
    budget convention); the per-source stream is laid into 256-token
    training windows by running offset. The audit counts, per source,
    the windows used, the token mix, and the VLM-specific failure mode:
    IMAGES whose 64-token block straddles a window boundary -- those
    cannot be attended as one unit and must be re-placed (or their
    window padded) at materialization time. Straddle detection is pure
    integer arithmetic on the prefix sums, so the oracle restates it
    exactly.

    Scale notes: the per-source running sum is one window over the
    (source) shuffle carrying three ints per doc -- text and media bytes
    never move; at 100 TB per-source streams use the
    `operators/prefix.py` two-phase sweep exactly like q99/q117. The
    straddle count is what decides between 'pad at boundary' and
    'reorder images first' packing policies before a single byte of
    pixel data is materialized.

    Reference parity: none -- north-star multimodal training-data op
    (SURVEY section 2.2 B48 family).
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    items = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("text_tok"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(64))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("img_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = items.withColumn(
        "cum", F.sum(F.col("text_tok") + F.col("img_tok")).over(w)
    )
    audited = placed.select(
        "source",
        F.floor((F.col("cum") - F.col("text_tok") - F.col("img_tok")) / 256).alias(
            "window_id"
        ),
        "text_tok",
        "img_tok",
        F.when(
            (F.col("img_tok") > 0)
            & (
                F.floor((F.col("cum") - F.col("img_tok")) / 256)
                != F.floor((F.col("cum") - 1) / 256)
            ),
            1,
        )
        .otherwise(0)
        .alias("straddled"),
    )
    return (
        audited.groupBy("source")
        .agg(
            (F.max("window_id") + 1).cast("bigint").alias("n_windows"),
            F.sum("text_tok").cast("bigint").alias("text_tokens"),
            F.sum((F.col("img_tok") > 0).cast("int")).cast("bigint").alias(
                "n_images"
            ),
            F.sum("straddled").cast("bigint").alias("n_straddled_images"),
        )
        .orderBy("source")
    )


@declared(
    "q163_importance_resampling",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang,
             (CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
              % 1000000007) % 64 AS bucket
      FROM toks WHERE token <> ''
    ),
    corpus_f AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM feat GROUP BY bucket
    ),
    target_f AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS t FROM feat
      WHERE lang = 'en' GROUP BY bucket
    ),
    ratio AS (
      SELECT cf.bucket,
             ln((COALESCE(tf.t, 0) + 1.0) / (cf.c + 1.0)) AS lr
      FROM corpus_f cf LEFT JOIN target_f tf USING (bucket)
    ),
    scored AS (
      SELECT f.doc_id,
             SUM(r.lr) / COUNT(*) AS raw
      FROM feat f JOIN ratio r USING (bucket)
      GROUP BY f.doc_id
    )
    SELECT doc_id, ROUND(raw, 4) AS log_importance
    FROM scored
    ORDER BY ROUND(raw, 4) DESC, doc_id LIMIT 20
    """,
)
def q163_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted data selection (the DSIR recipe -- Xie et al.
    2023, 'Data Selection for Language Models via Importance Resampling'
    -- with hashed features, public method): token features hash into 64
    buckets; a bucket's log-importance is ln((target+1)/(corpus+1)) with
    the English subset standing in for the target domain; each document
    scores the length-normalized sum of its buckets' log-ratios, and the
    top-20 by score are selected (ROUND-then-rank with doc_id tiebreak,
    SURVEY section 2.3 rule 1 -- ranking on the rounded score keeps the
    cutoff deterministic even where raw float order is libm-sensitive).

    Scale notes: the feature table is the only corpus-sized frame; both
    frequency tables are 64 rows (map-side combined) and their log-ratio
    join BROADCASTS back onto the token stream -- the model never
    shuffles with the data, the same shape as q132's bigram LM. Log
    arithmetic follows q132's precedent (sums of ~1e2 libm logs, rounded
    at 4 decimals after aggregation). At 100 TB the target estimator
    would be a held-out domain sample; the selection keeps top-k by
    weight exactly as here (TakeOrdered, no global sort).
    """
    from iot_data_pipeline_spark.functions.hashing import portable_hash

    docs = read_table(spark, sf_dir, "documents")
    feat = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", "lang", (portable_hash(F.col("token")) % 64).alias("bucket"))
    )
    corpus_f = feat.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    target_f = (
        feat.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    ratio = corpus_f.join(target_f, "bucket", "left").select(
        "bucket",
        F.log(
            (F.coalesce(F.col("t"), F.lit(0)) + 1.0) / (F.col("c") + 1.0)
        ).alias("lr"),
    )
    scored = (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg((F.sum("lr") / F.count(F.lit(1))).alias("raw"))
    )
    return (
        scored.select("doc_id", F.round("raw", 4).alias("log_importance"))
        .orderBy(F.desc("log_importance"), "doc_id")
        .limit(20)
    )
