"""Wave-257: n-gram ladder diagnostics — the block-entropy ladder
H_1..H_3 with conditional entropy rates (how much structure each extra
token of context explains), and the cross-split n-gram novelty profile
(the memorization/generalization screen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_NS = [1, 2, 3]

_NGRAMS_SQL = """
    toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT d.n, doc_id,
               ARRAY_TO_STRING(LIST_SLICE(t, r.i, r.i + d.n - 1), ' ')
                   AS gram
        FROM toks
        CROSS JOIN (SELECT UNNEST(ARRAY[1, 2, 3]) AS n) d
        CROSS JOIN LATERAL UNNEST(RANGE(1, LEN(t) - d.n + 2)) AS r(i)
    )
"""


@query(
    "text_block_entropy_ladder",
    oracle=f"""
    WITH {_NGRAMS_SQL},
    counts AS (
        SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS c
        FROM grams GROUP BY n, gram
    ),
    tot AS (
        SELECT n, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY n
    ),
    ent AS (
        SELECT c.n,
               CAST(COUNT(*) AS BIGINT) AS vocab_n,
               ANY_VALUE(t.t) AS t,
               -SUM((c.c / CAST(t.t AS DOUBLE))
                    * LN(c.c / CAST(t.t AS DOUBLE))) AS h
        FROM counts c JOIN tot t ON t.n = c.n
        GROUP BY c.n
    )
    SELECT n, vocab_n, t AS n_grams,
           ROUND(h, 6) AS block_entropy,
           ROUND(h - COALESCE(LAG(h) OVER (ORDER BY n), 0.0), 6)
               AS cond_entropy
    FROM ent ORDER BY n
    """,
)
def text_block_entropy_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-entropy ladder (Shannon 1948; the block-entropy estimate
    of entropy rate per Schurmann & Grassberger, CHAOS 1996, public):
    H_n = -sum p ln p over the corpus n-gram distribution for n=1,2,3,
    and the conditional entropies h_n = H_n - H_{{n-1}} — how many nats
    the n-th token carries GIVEN n-1 tokens of context. h_1 >= h_2 >=
    h_3 always (conditioning reduces entropy); how fast the ladder
    drops is the corpus' short-range structure, the number that
    predicts n-gram LM compressibility (text_kneser_ney_bigram's
    ceiling). Extends text_char_entropy (H_1 on chars) to the token
    block hierarchy.

    Exactness device: counts stay BIGINT; each H is one -sum(p ln p)
    over exact ratios; the LAG differencing runs over the 3-row frame.

    Scale shape: constant 3x n fan-out, one map-side-combined gram
    rollup per n, bounded output."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = toks.withColumn("n", F.explode(F.array(*[F.lit(n) for n in _NS]))).select(
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - n + 1),"
                " i -> array_join(slice(t, i, n), ' '))"
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("n", "gram").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = counts.groupBy("n").agg(F.sum("c").cast("long").alias("t"))
    ent = (
        counts.join(tot, "n")
        .groupBy("n")
        .agg(
            F.count("*").cast("long").alias("vocab_n"),
            F.first("t").alias("t"),
            (
                -F.sum(
                    (F.col("c") / F.col("t").cast("double"))
                    * F.log(F.col("c") / F.col("t").cast("double"))
                )
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    wl = Window.orderBy("n")
    return ent.select(
        "n",
        "vocab_n",
        F.col("t").alias("n_grams"),
        F.round("h", 6).alias("block_entropy"),
        F.round(
            F.col("h") - F.coalesce(F.lag("h").over(wl), F.lit(0.0)), 6
        ).alias("cond_entropy"),
    ).orderBy("n")


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH {_NGRAMS_SQL},
    train AS (
        SELECT DISTINCT n, gram FROM grams WHERE doc_id % 2 = 0
    ),
    test_g AS (
        SELECT n, gram FROM grams WHERE doc_id % 2 = 1
    ),
    flagged AS (
        SELECT g.n, g.gram,
               CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END AS novel
        FROM test_g g LEFT JOIN train t
          ON t.n = g.n AND t.gram = g.gram
    )
    SELECT n,
           CAST(COUNT(*) AS BIGINT) AS n_test_grams,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           ROUND(SUM(novel) / CAST(COUNT(*) AS DOUBLE), 6)
               AS novelty_rate
    FROM flagged GROUP BY n ORDER BY n
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split n-gram novelty profile (the memorization screen of
    McCoy et al., "How much do language models copy...", TACL 2023,
    public — RAVEN's n-gram novelty, run data-side): the fraction of
    ODD-document n-gram INSTANCES never seen in any EVEN document, for
    n = 1, 2, 3. Near-zero unigram novelty with fast-rising trigram
    novelty is the healthy profile (shared vocabulary, fresh
    composition); low trigram novelty between two corpus halves means
    boilerplate (dedup territory); against a benchmark instead of a
    split it IS the contamination check (pipeline_decontaminate's
    statistic generalized to the n-ladder).

    Exactness device: pure set-membership counting — the left join on
    the exact gram string, integer sums, one division per n.

    Scale shape: the train side collapses to DISTINCT grams first (the
    small side to broadcast at a real split ratio); one join keyed on
    (n, gram); map-side-combined rollup."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    grams = toks.withColumn(
        "n", F.explode(F.array(*[F.lit(n) for n in _NS]))
    ).select(
        "doc_id",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - n + 1),"
                " i -> array_join(slice(t, i, n), ' '))"
            )
        ).alias("gram"),
    )
    train = (
        grams.where(F.col("doc_id") % 2 == 0).select("n", "gram").distinct()
    )
    test_g = grams.where(F.col("doc_id") % 2 == 1).select("n", "gram")
    train2 = train.select(
        F.col("n").alias("tn"), F.col("gram").alias("tgram")
    )
    flagged = test_g.join(
        train2,
        (F.col("n") == F.col("tn")) & (F.col("gram") == F.col("tgram")),
        "left_outer",
    ).select(
        "n",
        F.when(F.col("tgram").isNull(), 1).otherwise(0).alias("novel"),
    )
    return (
        flagged.groupBy("n")
        .agg(
            F.count("*").cast("long").alias("n_test_grams"),
            F.sum("novel").cast("long").alias("n_novel"),
            F.round(
                F.sum("novel") / F.count("*").cast("double"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("n")
    )
