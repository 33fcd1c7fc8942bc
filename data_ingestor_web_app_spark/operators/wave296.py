"""Wave-296: D'Agostino-Pearson K² normality omnibus and LIX/RIX
readability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_dagostino_k2",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    raw AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s1,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
               CAST(SUM(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3,
               CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS s4
        FROM vals
    ),
    cm AS (
        SELECT n,
               s2 / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m2,
               s3 / n - 3 * (CAST(s1 AS DOUBLE) / n) * (s2 / n)
                   + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) AS m3,
               s4 / n - 4 * (CAST(s1 AS DOUBLE) / n) * (s3 / n)
                   + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (s2 / n)
                   - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                   AS m4
        FROM raw
    ),
    gb AS (
        SELECT n, m3 / POWER(m2, 1.5) AS g1, m4 / (m2 * m2) AS b2 FROM cm
    ),
    z1c AS (
        SELECT n, g1, b2,
               g1 * SQRT((n + 1.0) * (n + 3) / (6.0 * (n - 2))) AS yy,
               3.0 * (n * n + 27.0 * n - 70) * (n + 1) * (n + 3)
                   / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9)) AS beta2
        FROM gb
    ),
    z1d AS (
        SELECT n, g1, b2, yy,
               SQRT(2.0 * (beta2 - 1)) - 1 AS w2
        FROM z1c
    ),
    z1 AS (
        SELECT n, g1, b2,
               (1.0 / SQRT(LN(SQRT(w2))))
               * LN(yy / SQRT(2.0 / (w2 - 1))
                    + SQRT((yy / SQRT(2.0 / (w2 - 1)))
                           * (yy / SQRT(2.0 / (w2 - 1))) + 1)) AS z1
        FROM z1d
    ),
    z2c AS (
        SELECT n, g1, b2, z1,
               (b2 - 3.0 * (n - 1) / (n + 1))
               / SQRT(24.0 * n * (n - 2) * (n - 3)
                      / ((n + 1.0) * (n + 1) * (n + 3) * (n + 5))) AS x,
               6.0 * (n * n - 5.0 * n + 2) / ((n + 7.0) * (n + 9))
               * SQRT(6.0 * (n + 3) * (n + 5)
                      / (n * (n - 2.0) * (n - 3))) AS sb
        FROM z1
    ),
    z2a AS (
        SELECT n, g1, b2, z1, x,
               6.0 + 8.0 / sb * (2.0 / sb + SQRT(1 + 4.0 / (sb * sb))) AS a
        FROM z2c
    ),
    z2 AS (
        SELECT n, g1, b2, z1,
               ((1 - 2.0 / (9 * a))
                - CBRT((1 - 2.0 / a) / (1 + x * SQRT(2.0 / (a - 4)))))
               / SQRT(2.0 / (9 * a)) AS z2
        FROM z2a
    )
    SELECT CAST(n AS BIGINT) AS n_obs,
           ROUND(g1, 6) AS skewness_g1,
           ROUND(b2, 6) AS kurtosis_b2,
           ROUND(z1, 6) AS z_skew,
           ROUND(z2, 6) AS z_kurt,
           ROUND(z1 * z1 + z2 * z2, 6) AS k2_statistic,
           z1 * z1 + z2 * z2 > 5.991465 AS reject_normal
    FROM z2
    """,
)
def agg_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K² omnibus normality test (D'Agostino 1970;
    Anscombe & Glynn 1983; the combined K² per D'Agostino, Belanger &
    D'Agostino Jr 1990 — all public): transform sample skewness and
    kurtosis to separately-normalized z-scores with their exact
    finite-n moments, then K² = z1² + z2² ~ chi²(2) under normality
    (5% point 5.991465). The small-sample-honest cousin of Jarque-Bera
    (which uses the asymptotic variances 6/n and 24/n and over-rejects
    at modest n); the registry carries both so the pair cross-checks.

    Determinism: raw power sums of exact integer cents accumulate in
    HUGEINT/decimal(38,0) and cast ONCE to double; every transform
    (ln, sqrt, cbrt — cbrt handles the negative branch) is the
    IDENTICAL literal chain in both engines; flags compare unrounded.

    Scale shape: one moment aggregate over the scan — no window, no
    sort, map-side combinable; the transforms run on a 1-row frame."""
    vals = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    cd = F.col("c").cast("decimal(38,0)")
    raw = vals.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(cd * F.col("c")).cast("double").alias("s2"),
        F.sum(cd * F.col("c") * F.col("c")).cast("double").alias("s3"),
        F.sum(cd * F.col("c") * F.col("c") * F.col("c"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    gb = raw.select(
        "n",
        (m3 / F.pow(m2, 1.5)).alias("g1"),
        (m4 / (m2 * m2)).alias("b2"),
    )
    yy = F.col("g1") * F.sqrt((n + 1.0) * (n + 3) / (6.0 * (n - 2)))
    beta2 = (
        3.0
        * (n * n + 27.0 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9))
    )
    w2 = F.sqrt(2.0 * (beta2 - 1)) - 1
    alpha = F.sqrt(2.0 / (w2 - 1))
    z1 = (1.0 / F.sqrt(F.log(F.sqrt(w2)))) * F.log(
        yy / alpha + F.sqrt((yy / alpha) * (yy / alpha) + 1)
    )
    x = (F.col("b2") - 3.0 * (n - 1) / (n + 1)) / F.sqrt(
        24.0 * n * (n - 2) * (n - 3) / ((n + 1.0) * (n + 1) * (n + 3) * (n + 5))
    )
    sb = (
        6.0
        * (n * n - 5.0 * n + 2)
        / ((n + 7.0) * (n + 9))
        * F.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2.0) * (n - 3)))
    )
    a = 6.0 + 8.0 / sb * (2.0 / sb + F.sqrt(1 + 4.0 / (sb * sb)))
    z2 = (
        (1 - 2.0 / (9 * a))
        - F.cbrt((1 - 2.0 / a) / (1 + x * F.sqrt(2.0 / (a - 4))))
    ) / F.sqrt(2.0 / (9 * a))
    out = gb.select(
        "n",
        "g1",
        "b2",
        z1.alias("z1"),
        z2.alias("z2"),
    )
    k2 = F.col("z1") * F.col("z1") + F.col("z2") * F.col("z2")
    return out.select(
        F.col("n").alias("n_obs"),
        F.round("g1", 6).alias("skewness_g1"),
        F.round("b2", 6).alias("kurtosis_b2"),
        F.round("z1", 6).alias("z_skew"),
        F.round("z2", 6).alias("z_kurt"),
        F.round(k2, 6).alias("k2_statistic"),
        (k2 > 5.991465).alias("reject_normal"),
    )


@query(
    "text_lix_readability",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               STRING_SPLIT(text, ' ') AS ws,
               LENGTH(text)
                 - LENGTH(REPLACE(REPLACE(REPLACE(text, '.', ''),
                                          '!', ''), '?', '')) AS punct
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(LEN(ws) AS BIGINT) AS n_words,
               CAST(LEN(LIST_FILTER(ws, w -> LENGTH(w) > 6)) AS BIGINT)
                   AS n_long,
               CAST(GREATEST(punct, 1) AS BIGINT) AS n_sentences
        FROM toks
    )
    SELECT doc_id, n_words, n_long, n_sentences,
           ROUND(CAST(n_words AS DOUBLE) / n_sentences
                 + 100.0 * n_long / n_words, 4) AS lix,
           ROUND(CAST(n_long AS DOUBLE) / n_sentences, 4) AS rix
    FROM m
    """,
)
def text_lix_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIX and RIX readability indices (Björnsson 1968; Anderson 1983 —
    public): LIX = words/sentences + 100·longwords/words and
    RIX = longwords/sentences, with "long" = more than 6 characters —
    the language-agnostic readability pair (no syllable counting, so
    they survive non-English text where Flesch's syllable heuristic
    lies). Complements text_flesch_readability; LIX > 55 is
    "very difficult", RIX > 7.2 college-level (Anderson's table).
    Sentence count falls back to 1 when the document carries no
    terminal punctuation (this fixture's word-salad docs), which makes
    the whole doc one sentence — documented, deterministic.

    Determinism: token and punctuation counts are exact integers from
    identical split/filter semantics (single-space fixture tokens);
    two rounded ratios.

    Scale shape: one linear projection — per-doc counters via builtin
    split/filter/length, no shuffle, no UDF."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("ws"),
        (
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("."), F.lit("")),
                        F.lit("!"),
                        F.lit(""),
                    ),
                    F.lit("?"),
                    F.lit(""),
                )
            )
        ).alias("punct"),
    )
    m = d.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.filter("ws", lambda w: F.length(w) > 6))
        .cast("long")
        .alias("n_long"),
        F.greatest("punct", F.lit(1)).cast("long").alias("n_sentences"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_long",
        "n_sentences",
        F.round(
            F.col("n_words").cast("double") / F.col("n_sentences")
            + 100.0 * F.col("n_long") / F.col("n_words"),
            4,
        ).alias("lix"),
        F.round(F.col("n_long").cast("double") / F.col("n_sentences"), 4).alias(
            "rix"
        ),
    )
