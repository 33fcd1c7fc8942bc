"""Wave-148: pass@k estimation and self-BLEU-2 corpus diversity — the
LLM-eval metric pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_PASS_K = 5


@query(
    "model_pass_at_k",
    oracle=f"""
    WITH task AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN CAST(ROUND(value * 1000) AS BIGINT) > 800
                        THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM events GROUP BY user_id HAVING COUNT(*) >= {_PASS_K}
    ),
    est AS (
        SELECT user_id, n, c,
               CASE WHEN n - c < {_PASS_K} THEN CAST(1000000 AS BIGINT)
                    ELSE CAST(1000000
                         - ROUND(1000000.0
                             * ((n - c) * (n - c - 1) * (n - c - 2)
                                * (n - c - 3) * (n - c - 4))
                             / (n * (n - 1) * (n - 2) * (n - 3) * (n - 4)))
                         AS BIGINT)
               END AS pass_k_micro
        FROM task
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tasks,
           CAST(SUM(CASE WHEN pass_k_micro = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_certain,
           CAST(SUM(pass_k_micro) AS BIGINT) AS pass_k_micro_sum,
           ROUND(SUM(pass_k_micro) / (1e6 * COUNT(*)), 6) AS mean_pass_at_k
    FROM est
    """,
)
def model_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k with the unbiased estimator (Chen et al. 2021, "Evaluating
    Large Language Models Trained on Code", public): per task (user),
    n attempts (events) with c successes (milli-value > 800);
    pass@k = 1 − C(n−c, k)/C(n, k), computed as the falling-factorial
    product Π(n−c−i)/(n−i) — THE sampling-robust eval metric, vs the
    naive c>0 fraction that overestimates under small n. Corpus mean
    reported over all tasks with ≥ k attempts.

    Determinism: the combinatorial ratio is a quotient of exact BIGINT
    falling factorials (n is per-user event count, far below overflow),
    rounded once to micro units; the task sum is exact.

    Scale shape: one map-side-combined per-task collapse; the estimator
    is a projection; one final fold."""
    k = _PASS_K
    task = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.round(F.col("value") * 1000).cast("long") > 800, 1).otherwise(0)
            )
            .cast("long")
            .alias("c"),
        )
        .where(F.col("n") >= k)
    )
    m = F.col("n") - F.col("c")
    num = m * (m - 1) * (m - 2) * (m - 3) * (m - 4)
    den = (
        F.col("n")
        * (F.col("n") - 1)
        * (F.col("n") - 2)
        * (F.col("n") - 3)
        * (F.col("n") - 4)
    )
    est = task.select(
        F.when(m < k, F.lit(1000000).cast("long"))
        .otherwise(
            (F.lit(1000000) - F.round(1000000.0 * num / den)).cast("long")
        )
        .alias("pass_k_micro")
    )
    return est.agg(
        F.count("*").cast("long").alias("n_tasks"),
        F.sum(F.when(F.col("pass_k_micro") == 1000000, 1).otherwise(0))
        .cast("long")
        .alias("n_certain"),
        F.sum("pass_k_micro").cast("long").alias("pass_k_micro_sum"),
        F.round(F.sum("pass_k_micro") / (1e6 * F.count("*")), 6).alias(
            "mean_pass_at_k"
        ),
    )


@query(
    "text_self_bleu2",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks,
               LEN(STRING_SPLIT(text, ' ')) AS n
        FROM documents WHERE doc_id < 40 AND LEN(STRING_SPLIT(text, ' ')) >= 2
    ),
    bg AS (
        SELECT doc_id, lang,
               ARRAY_TO_STRING(toks[p:p+1], ' ') AS gram
        FROM (SELECT doc_id, lang, toks, UNNEST(RANGE(1, n)) AS p FROM t)
    ),
    cnt AS (
        SELECT doc_id, lang, gram, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg GROUP BY doc_id, lang, gram
    ),
    pair AS (
        SELECT a.doc_id AS hyp, b.doc_id AS ref, a.gram,
               CASE WHEN a.c < b.c THEN a.c ELSE b.c END AS clip,
               a.c AS hc
        FROM cnt a
        JOIN cnt b ON b.lang = a.lang AND b.gram = a.gram
                  AND b.doc_id <> a.doc_id
    ),
    per AS (
        SELECT hyp, ref,
               CAST(SUM(clip) AS BIGINT) AS clipped
        FROM pair GROUP BY hyp, ref
    ),
    htot AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total FROM cnt
        GROUP BY doc_id
    ),
    best AS (
        SELECT p.hyp,
               CAST(MAX(p.clipped) AS BIGINT) AS best_clip,
               CAST(MAX(h.total) AS BIGINT) AS total
        FROM per p JOIN htot h ON h.doc_id = p.hyp
        GROUP BY p.hyp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(best_clip) AS BIGINT) AS clipped_sum,
           CAST(SUM(total) AS BIGINT) AS gram_sum,
           ROUND(SUM(best_clip) * 1e0 / SUM(total), 6) AS self_bleu2
    FROM best
    """,
)
def text_self_bleu2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-2 (Zhu et al. 2018, "Texygen", public; modified-
    precision core from Papineni et al. 2002 BLEU): each document in the
    bounded cohort (doc_id < 40) is scored against its same-language
    peers by clipped-bigram precision, taking the best-matching peer;
    high self-BLEU = a homogeneous corpus, the diversity warning the
    dedup family quantifies by another route.

    Determinism: clipped counts are exact min-of-count integers;
    corpus-level precision is one division.

    Scale shape: bigram counts collapse map-side; the pair join runs on
    the bounded cohort's gram table keyed by (lang, gram) — never
    all-docs × all-docs on the full corpus (the documented all-pairs
    bound, as in agg_survival_cindex)."""
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 40)
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
    )
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, size(toks) - 1), p -> concat_ws(' ', slice(toks, p, 2)))")
        ).alias("gram"),
    )
    cnt = bg.groupBy("doc_id", "lang", "gram").agg(
        F.count("*").cast("long").alias("c")
    )
    a = cnt.alias("a")
    b = cnt.select(
        F.col("doc_id").alias("ref"),
        F.col("lang").alias("blang"),
        F.col("gram").alias("bgram"),
        F.col("c").alias("bc"),
    )
    pair = a.join(
        b,
        (F.col("blang") == F.col("a.lang"))
        & (F.col("bgram") == F.col("a.gram"))
        & (F.col("ref") != F.col("a.doc_id")),
    ).select(
        F.col("a.doc_id").alias("hyp"),
        "ref",
        F.when(F.col("a.c") < F.col("bc"), F.col("a.c")).otherwise(F.col("bc")).alias("clip"),
    )
    per = pair.groupBy("hyp", "ref").agg(F.sum("clip").cast("long").alias("clipped"))
    htot = cnt.groupBy("doc_id").agg(F.sum("c").cast("long").alias("total"))
    best = (
        per.join(htot, per.hyp == htot.doc_id)
        .groupBy("hyp")
        .agg(
            F.max("clipped").cast("long").alias("best_clip"),
            F.max("total").cast("long").alias("total"),
        )
    )
    return best.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("best_clip").cast("long").alias("clipped_sum"),
        F.sum("total").cast("long").alias("gram_sum"),
        F.round(F.sum("best_clip") * F.lit(1.0) / F.sum("total"), 6).alias(
            "self_bleu2"
        ),
    )
