"""Wave-123: winnowing fingerprints (MOSS), Lee-style duplicated-substring
spans, and DSIR hashed-ngram importance weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# md5-based 32-bit gram hash usable identically in Spark and DuckDB
# (xxhash64 has no DuckDB twin; the top-8 hex chars of md5 do).


@query(
    "text_winnowing_fingerprint",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 8
    ),
    grams AS (
        SELECT doc_id, p,
               CAST(CONCAT('0x', SUBSTR(MD5(ARRAY_TO_STRING(toks[p:p+3], ' ')),
                                        1, 8)) AS BIGINT) AS h
        FROM (SELECT doc_id, toks, UNNEST(RANGE(1, n - 2)) AS p FROM t)
    ),
    wins AS (
        SELECT doc_id, p AS s,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id) AS m
        FROM grams
    ),
    sel AS (
        SELECT w.doc_id, w.s, w.wmin, MAX(g.p) AS pos
        FROM (SELECT * FROM wins WHERE s <= m - 4) w
        JOIN grams g ON g.doc_id = w.doc_id
                    AND g.p BETWEEN w.s AND w.s + 4 AND g.h = w.wmin
        GROUP BY w.doc_id, w.s, w.wmin
    ),
    fps AS (SELECT DISTINCT doc_id, pos, wmin FROM sel)
    SELECT t.doc_id,
           CAST(t.n - 3 AS BIGINT) AS n_grams,
           CAST(t.n - 7 AS BIGINT) AS n_windows,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(f.wmin) AS BIGINT) AS fp_hash_sum,
           ROUND(COUNT(*) / CAST(t.n - 7 AS DOUBLE), 6) AS fp_density
    FROM t JOIN fps f USING (doc_id)
    GROUP BY t.doc_id, t.n
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm, public): hash every 4-token gram,
    slide a 5-gram window, select the window minimum (rightmost on ties),
    dedupe selections. The guarantee: any shared substring of >= w+k-1
    tokens between two documents shares at least one selected
    fingerprint — position-robust local dedup/plagiarism detection with
    expected density 2/(w+1).

    Determinism: gram hashes are the top-32-bits of md5 (exact integers
    in both engines), window minima and rightmost-tie selection are pure
    integer comparisons; density is one rounded division.

    Scale shape: entirely per-row higher-order functions (transform /
    slice / array_min over the token array) — a pure projection, NO
    shuffle, no explode; the corpus is touched once. The DuckDB oracle
    explodes to gram rows + window frames, proving the array formulation
    equals the relational one."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(
        F.col("n") >= 8
    )
    hs = F.expr(
        "transform(sequence(1, n - 3), p -> "
        "cast(conv(substr(md5(concat_ws(' ', slice(toks, p, 4))), 1, 8), 16, 10)"
        " as bigint))"
    )
    sel = F.expr(
        "transform(sequence(1, n - 7), s -> named_struct("
        "'pos', s + 5 - array_position(reverse(slice(hs, s, 5)),"
        "                              array_min(slice(hs, s, 5))),"
        "'h', array_min(slice(hs, s, 5))))"
    )
    fps = F.array_distinct(F.col("sel"))
    return (
        base.withColumn("hs", hs)
        .withColumn("sel", sel)
        .select(
            "doc_id",
            (F.col("n") - 3).cast("long").alias("n_grams"),
            (F.col("n") - 7).cast("long").alias("n_windows"),
            F.size(fps).cast("long").alias("n_fingerprints"),
            F.expr(
                "aggregate(array_distinct(sel), cast(0 as bigint), (a, x) -> a + x.h)"
            ).alias("fp_hash_sum"),
            F.round(
                F.size(fps) / (F.col("n") - 7).cast("double"), 6
            ).alias("fp_density"),
        )
    )


@query(
    "dedup_substring_span",
    oracle="""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 8
    ),
    grams AS (
        SELECT doc_id, p,
               CAST(CONCAT('0x', SUBSTR(MD5(ARRAY_TO_STRING(toks[p:p+7], ' ')),
                                        1, 8)) AS BIGINT) AS h
        FROM (SELECT doc_id, toks, UNNEST(RANGE(1, n - 6)) AS p FROM t)
    ),
    duph AS (
        SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (SELECT g.doc_id, g.p FROM grams g JOIN duph USING (h)),
    isl AS (
        SELECT doc_id, p,
               CASE WHEN MAX(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR p > MAX(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM dup
    ),
    grp AS (
        SELECT doc_id, p,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM isl
    )
    SELECT doc_id,
           CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(MAX(p) + 7 AS BIGINT) AS span_end,
           CAST(MAX(p) + 7 - MIN(p) + 1 AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM grp GROUP BY doc_id, island
    """,
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring spans, the token-level analogue of suffix-array
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public): every 8-token shingle appearing in
    >= 2 distinct documents marks its covering token span as duplicated;
    overlapping/adjacent marks merge into maximal spans (gaps-and-islands
    over the running max of span ends). Output = the byte ranges a
    substring-dedup pass would cut, per document.

    Determinism: shingle hashes are md5-top-32 integers; island assembly
    is pure integer window arithmetic.

    Scale shape: one groupBy on the shingle hash (uniform 32-bit key)
    keeps only shingles with >= 2 distinct docs — the duplicated subset —
    then per-doc windows run over that small survivor set. Linear in
    corpus size + duplicate mass; the full corpus is never self-joined."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(
        F.col("n") >= 8
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                # Spark sequence() is INCLUSIVE: p must stop at n-7 so every
                # shingle has a full 8 tokens (DuckDB RANGE is exclusive; the
                # old n-6 bound emitted a 7-token partial whose hash collided
                # across docs at sf0.1)
                "transform(sequence(1, n - 7), p -> "
                "cast(conv(substr(md5(concat_ws(' ', slice(toks, p, 8))), 1, 8),"
                " 16, 10) as bigint))"
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "h")
    duph = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dup = grams.join(duph, "h").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    run_end = F.max(F.col("p") + 7).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.select(
        "doc_id",
        "p",
        F.when(run_end.isNull() | (F.col("p") > run_end), 1).otherwise(0).alias(
            "new_island"
        ),
    )
    grp = isl.select(
        "doc_id",
        "p",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "island"
        ),
    )
    return grp.groupBy("doc_id", "island").agg(
        F.min("p").cast("long").alias("span_start"),
        (F.max("p") + 7).cast("long").alias("span_end"),
        (F.max("p") + 7 - F.min("p") + 1).cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_shingles"),
    ).drop("island")


@query(
    "pipeline_dsir_weights",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 2
    ),
    feats AS (
        SELECT doc_id, lang,
               CAST(CONCAT('0x', SUBSTR(MD5(ARRAY_TO_STRING(toks[p:p+1], ' ')),
                                        1, 8)) AS BIGINT) % 1024 AS b
        FROM (SELECT doc_id, lang, toks, UNNEST(RANGE(1, n)) AS p FROM t)
    ),
    bcnt AS (
        SELECT b,
               CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM feats GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(c_all) AS BIGINT) AS s_all,
               CAST(SUM(c_t) AS BIGINT) AS s_t
        FROM bcnt
    ),
    delta AS (
        SELECT b,
               CAST(ROUND(1000000 * (
                   LN(CAST(c_t + 1 AS DOUBLE) / (c_all + 1))
                   + LN(CAST(s_all + 1024 AS DOUBLE) / (s_t + 1024))
               )) AS BIGINT) AS d_micro
        FROM bcnt CROSS JOIN tot
    ),
    docfeat AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM feats
        GROUP BY doc_id, b
    )
    SELECT f.doc_id,
           CAST(SUM(f.c) AS BIGINT) AS n_features,
           CAST(SUM(f.c * d.d_micro) AS BIGINT) AS dsir_logw_micro
    FROM docfeat f JOIN delta d USING (b)
    GROUP BY f.doc_id
    """,
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023, "Data Selection
    for Language Models via Importance Resampling", public): hashed
    bigram features (md5 → 1024 buckets), target distribution = the
    English slice, source = the whole corpus, per-doc log importance
    weight = Σ_features ln p_target/p_source with +1 / +B smoothing.
    High-weight docs look target-like; importance resampling keeps them.

    Determinism: the per-bucket log-ratio collapses to ONE double chain
    rounded to integer micro-nats (same round-half-away in both engines),
    and every later step — per-doc feature counts times the integer
    delta — is exact BIGINT arithmetic, so the doc weights are
    bit-reproducible regardless of aggregation order.

    Scale shape: two map-side-combined groupBys (bucket counts: 1024
    rows; doc×bucket counts), one broadcast of the 1024-row delta table,
    one final per-doc sum. The corpus is scanned once; nothing quadratic,
    nothing collected."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id", "lang", toks.alias("toks"), F.size(toks).alias("n")
    ).where(F.col("n") >= 2)
    feats = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, n - 1), p -> "
                "cast(conv(substr(md5(concat_ws(' ', slice(toks, p, 2))), 1, 8),"
                " 16, 10) as bigint) % 1024)"
            )
        ).alias("b"),
    )
    bcnt = feats.groupBy("b").agg(
        F.count("*").cast("long").alias("c_all"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("c_t"),
    )
    tot = bcnt.agg(
        F.sum("c_all").cast("long").alias("s_all"),
        F.sum("c_t").cast("long").alias("s_t"),
    )
    delta = bcnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            1000000
            * (
                F.log((F.col("c_t") + 1).cast("double") / (F.col("c_all") + 1))
                + F.log(
                    (F.col("s_all") + 1024).cast("double") / (F.col("s_t") + 1024)
                )
            )
        )
        .cast("long")
        .alias("d_micro"),
    )
    docfeat = feats.groupBy("doc_id", "b").agg(F.count("*").cast("long").alias("c"))
    return (
        docfeat.join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_features"),
            F.sum(F.col("c") * F.col("d_micro")).cast("long").alias("dsir_logw_micro"),
        )
    )
