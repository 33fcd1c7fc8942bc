"""Wave-154: distribution matching by derandomized rejection sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_rejection_match_length",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang,
               LEAST(CAST(n_chars // 50 AS BIGINT), 20) AS b
        FROM documents WHERE lang IN ('en', 'de')
    ),
    hist AS (
        SELECT b,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS s_cnt,
               CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_cnt
        FROM d GROUP BY b
    ),
    live AS (SELECT * FROM hist WHERE s_cnt > 0 AND t_cnt > 0),
    mstar AS (
        SELECT s_cnt AS s_star, t_cnt AS t_star FROM (
            SELECT s_cnt, t_cnt,
                   ROW_NUMBER() OVER (
                       ORDER BY t_cnt * 1e0 / s_cnt DESC, b) AS rn
            FROM live) t
        WHERE rn = 1
    ),
    acc AS (
        SELECT d.doc_id, d.b,
               CASE WHEN d.lang = 'en' AND l.b IS NOT NULL
                    AND CAST(CONCAT('0x', SUBSTR(MD5(CAST(d.doc_id AS VARCHAR)
                                                  || '|rej'), 1, 8)) AS BIGINT)
                        * l.s_cnt * m.t_star
                        < 4294967296 * l.t_cnt * m.s_star
                    THEN 1 ELSE 0 END AS accepted
        FROM d
        LEFT JOIN live l ON l.b = d.b
        CROSS JOIN mstar m
        WHERE d.lang = 'en'
    )
    SELECT a.b AS bucket,
           CAST(COUNT(*) AS BIGINT) AS src_docs,
           CAST(SUM(a.accepted) AS BIGINT) AS accepted_docs,
           CAST(COALESCE(MAX(l.t_cnt), 0) AS BIGINT) AS target_docs
    FROM acc a LEFT JOIN live l ON l.b = a.b
    GROUP BY a.b
    """,
)
def pipeline_rejection_match_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution matching by rejection sampling (von Neumann 1951,
    public; the length-matching step data-curation pipelines run so a
    filtered corpus keeps the reference length profile): English docs
    are accepted with probability p(b) = [t(b)/s(b)] / max_b[t(b)/s(b)]
    per 50-char length bucket, which reshapes the English length
    histogram toward the German target with the largest achievable
    sample. The coin flips are DERANDOMIZED md5 uniforms, and the
    acceptance test u·s(b)·t(b*) < 2³²·t(b)·s(b*) is exact BIGINT
    cross-multiplication — no float ever decides a document's fate.

    Scale shape: one histogram groupBy, a broadcast of the bucket table
    and the argmax row, then a pure per-row accept projection — the
    corpus streams through once.

    pytest asserts the accepted histogram tracks the target shape better
    than the raw source does (total-variation improvement)."""
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("lang").isin("en", "de"))
        .select(
            "doc_id",
            "lang",
            F.least(F.floor(F.col("n_chars") / 50).cast("long"), F.lit(20)).alias("b"),
        )
    )
    hist = d.groupBy("b").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("s_cnt"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).cast("long").alias("t_cnt"),
    )
    live = hist.where((F.col("s_cnt") > 0) & (F.col("t_cnt") > 0))
    wr = Window.orderBy((F.col("t_cnt") * F.lit(1.0) / F.col("s_cnt")).desc(), "b")
    mstar = (
        live.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(F.col("s_cnt").alias("s_star"), F.col("t_cnt").alias("t_star"))
    )
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|rej"))), 1, 8),
        16,
        10,
    ).cast("long")
    src = d.where(F.col("lang") == "en")
    acc = (
        src.join(F.broadcast(live), "b", "left")
        .crossJoin(F.broadcast(mstar))
        .select(
            "doc_id",
            "b",
            F.when(
                F.col("s_cnt").isNotNull()
                & (
                    u32 * F.col("s_cnt") * F.col("t_star")
                    < F.lit(4294967296) * F.col("t_cnt") * F.col("s_star")
                ),
                1,
            )
            .otherwise(0)
            .alias("accepted"),
        )
    )
    return (
        acc.join(F.broadcast(live.select("b", "t_cnt")), "b", "left")
        .groupBy(F.col("b").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("src_docs"),
            F.sum("accepted").cast("long").alias("accepted_docs"),
            F.coalesce(F.max("t_cnt"), F.lit(0)).cast("long").alias("target_docs"),
        )
    )
