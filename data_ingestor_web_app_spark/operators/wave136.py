"""Wave-136: Flesch-style readability, ABC revenue classification, and
the newsvendor critical-fractile stocking level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_flesch_readability",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiouy]+')) AS BIGINT)
                   AS syllables
        FROM documents
    )
    SELECT doc_id, words, syllables,
           ROUND(206.835e0 - 1.015e0 * words
                 - 84.6e0 * (syllables * 1e0 / words), 4) AS flesch_score,
           CASE WHEN 206.835e0 - 1.015e0 * words
                     - 84.6e0 * (syllables * 1e0 / words) >= 60
                THEN 'easy'
                WHEN 206.835e0 - 1.015e0 * words
                     - 84.6e0 * (syllables * 1e0 / words) >= 30
                THEN 'medium'
                ELSE 'hard' END AS band
    FROM m
    """,
)
def text_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease (Flesch 1948, public) with the standard
    vowel-group syllable proxy: each maximal [aeiouy]+ run counts one
    syllable; the fixture's corpus has no sentence punctuation, so each
    document is one sentence (words/sentence = words). A coarse but
    classic quality-filter feature — extreme scores flag boilerplate and
    word-salad alike.

    Determinism: word and vowel-group counts are exact integers (both
    engines run the same regex); the score is one double chain.

    Scale shape: pure per-row projection — two counts and an arithmetic
    expression, no shuffle."""
    d = table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("long")
    syl = F.size(F.expr("regexp_extract_all(text, '[aeiouy]+', 0)")).cast("long")
    base = d.select("doc_id", words.alias("words"), syl.alias("syllables"))
    score = (
        206.835
        - 1.015 * F.col("words")
        - 84.6 * (F.col("syllables") * F.lit(1.0) / F.col("words"))
    )
    return base.select(
        "doc_id",
        "words",
        "syllables",
        F.round(score, 4).alias("flesch_score"),
        F.when(score >= 60, "easy")
        .when(score >= 30, "medium")
        .otherwise("hard")
        .alias("band"),
    )


@query(
    "agg_abc_analysis",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    c AS (
        SELECT o_custkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum
        FROM rev
    )
    SELECT c.o_custkey, c.cents,
           CASE WHEN c.cum * 100 <= t.t * 80 THEN 'A'
                WHEN c.cum * 100 <= t.t * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN tot t
    """,
)
def agg_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis (the Pareto-principle inventory classification,
    public): customers ranked by revenue; the head covering the first
    80% of cumulative revenue is class A, the next 15% B, the tail C —
    the segmentation every ops team uses to tier service levels.

    Determinism: revenue in exact cents; the running cumulative is
    total-ordered (custkey tie-break); class boundaries compare
    cum·100 ≤ total·k in pure BIGINTs — no percentage float ever.

    Scale shape: one map-side-combined revenue groupBy, a broadcast
    1-row total, one running-sum window over customers (at 100 TB:
    range-partitioned sort, the same plan a global rank takes)."""
    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    w = Window.orderBy(F.col("cents").desc(), "o_custkey")
    c = rev.select("o_custkey", "cents", F.sum("cents").over(w).alias("cum"))
    return c.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "cents",
        F.when(F.col("cum") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


_CU = 9  # underage cost (lost margin) per unit
_CO = 1  # overage cost (holding) per unit


@query(
    "events_newsvendor_stock",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS demand
        FROM events GROUP BY event_type, day
    ),
    r AS (
        SELECT event_type, demand, day,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY demand, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(n * {_CU}.0 / ({_CU} + {_CO}))
                                        AS BIGINT)
                    THEN demand END) AS BIGINT) AS stock_level,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
                    THEN demand END) AS BIGINT) AS median_demand
    FROM r GROUP BY event_type
    """,
)
def events_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stocking (Arrow, Harris & Marschak
    1951, public): with underage cost 9 and overage cost 1, the optimal
    stock is the demand distribution's cu/(cu+co) = 0.9 quantile — here
    the exact ⌈0.9n⌉-th order statistic of daily per-type demand, next
    to the median for contrast. The canonical one-shot capacity decision
    (how many servers to warm, how much data to prefetch) under
    asymmetric costs.

    Determinism: exact order statistics with day tie-breaks; the
    fractile index is one ceil over exact integers.

    Scale shape: map-side daily collapse, one rank window per type."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("demand"))
    )
    w = Window.partitionBy("event_type").orderBy("demand", "day")
    r = daily.select(
        "event_type",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    frac = F.ceil(F.col("n") * _CU * 1.0 / (_CU + _CO)).cast("long")
    med = F.ceil(F.col("n") * 0.5).cast("long")
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(F.when(F.col("rn") == frac, F.col("demand")))
        .cast("long")
        .alias("stock_level"),
        F.max(F.when(F.col("rn") == med, F.col("demand")))
        .cast("long")
        .alias("median_demand"),
    )
