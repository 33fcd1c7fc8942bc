"""Wave-241: RL-post-training data ops — group-relative advantage
normalization (GRPO / RLOO baselines) over per-group rewards, and
Monroe's "Fightin' Words" informative-Dirichlet log-odds for corpus
contrast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_grpo_advantages",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, source,
               LEN(STRING_SPLIT(text, ' ')) * 100.0 / n_chars AS reward
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang, source, reward,
               COUNT(*) OVER w AS n,
               AVG(reward) OVER w AS mu,
               STDDEV_SAMP(reward) OVER w AS sd,
               SUM(reward) OVER w AS tot
        FROM scored
        WINDOW w AS (PARTITION BY lang, source)
    )
    SELECT doc_id, lang, source,
           ROUND(reward, 6) AS reward,
           CAST(n AS BIGINT) AS group_n,
           CASE WHEN n < 2 OR sd = 0 THEN 0.0
                ELSE ROUND((reward - mu) / sd, 6) END AS adv_grpo,
           CASE WHEN n < 2 THEN 0.0
                ELSE ROUND(reward - (tot - reward) / (n - 1), 6)
           END AS adv_rloo
    FROM g
    """,
)
def pipeline_grpo_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage estimation as used by GRPO (Shao et al.,
    arXiv:2402.03300, public) and RLOO (Ahmadian et al., ACL 2024,
    public): completions sharing a prompt group — here (lang, source)
    cohorts standing in for per-prompt rollouts, with lexical density
    (tokens per 100 chars) as the deterministic reward — get
    adv_grpo = (r - mean_group)/std_group (z-normalized, the GRPO
    critic-free baseline) and adv_rloo = r - mean(others) (the
    leave-one-out baseline, which the window identity (tot - r)/(n-1)
    computes WITHOUT a self-join). Degenerate groups (n < 2 or zero
    spread) emit 0 advantage, matching the trainers' masking.

    Scale shape: two window functions over the group key — one shuffle,
    no join, no collect; at 100 TB the group key is the real prompt id
    and the plan is unchanged. RLOO-via-window is the trick: naive
    implementations re-aggregate per excluded row (O(n^2))."""
    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        (
            F.size(F.split("text", " ")) * 100.0 / F.col("n_chars")
        ).alias("reward"),
    )
    w = Window.partitionBy("lang", "source")
    g = scored.select(
        "doc_id",
        "lang",
        "source",
        "reward",
        F.count("*").over(w).alias("n"),
        F.avg("reward").over(w).alias("mu"),
        F.stddev_samp("reward").over(w).alias("sd"),
        F.sum("reward").over(w).alias("tot"),
    )
    return g.select(
        "doc_id",
        "lang",
        "source",
        F.round("reward", 6).alias("reward"),
        F.col("n").cast("long").alias("group_n"),
        F.when((F.col("n") < 2) | (F.col("sd") == 0), F.lit(0.0))
        .otherwise(F.round((F.col("reward") - F.col("mu")) / F.col("sd"), 6))
        .alias("adv_grpo"),
        F.when(F.col("n") < 2, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("reward")
                - (F.col("tot") - F.col("reward")) / (F.col("n") - 1),
                6,
            )
        )
        .alias("adv_rloo"),
    )


_FW_A0 = 500.0  # total prior mass spread over the background distribution
_FW_TOPK = 20


@query(
    "text_log_odds_dirichlet",
    oracle=f"""
    WITH toks AS (
        SELECT (lang = 'en') AS in_a,
               UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok,
               CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
               CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS yb
        FROM toks GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(ya) AS BIGINT) AS na,
               CAST(SUM(yb) AS BIGINT) AS nb,
               CAST(SUM(ya + yb) AS BIGINT) AS nall
        FROM counts
    ),
    z AS (
        SELECT tok, ya, yb,
               LN((ya + {_FW_A0!r} * (ya + yb) / t.nall)
                  / (t.na + {_FW_A0!r} - ya
                     - {_FW_A0!r} * (ya + yb) / t.nall))
               - LN((yb + {_FW_A0!r} * (ya + yb) / t.nall)
                    / (t.nb + {_FW_A0!r} - yb
                       - {_FW_A0!r} * (ya + yb) / t.nall)) AS delta,
               SQRT(1.0 / (ya + {_FW_A0!r} * (ya + yb) / t.nall)
                    + 1.0 / (yb + {_FW_A0!r} * (ya + yb) / t.nall)) AS se
        FROM counts CROSS JOIN tot t
    )
    SELECT tok, ya, yb,
           ROUND(delta, 6) AS delta,
           ROUND(delta / se, 6) AS z
    FROM z
    ORDER BY ABS(delta / se) DESC, tok
    LIMIT {_FW_TOPK}
    """,
)
def text_log_odds_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-Colaresi-Quinn "Fightin' Words" (Monroe et al., Political
    Analysis 2008, public): the log-odds-ratio of token w between the
    English and non-English corpora with an INFORMATIVE Dirichlet prior
    proportional to the pooled corpus (total mass a0=500), z-scored by
    the delta-method variance 1/(y_aw + a_w) + 1/(y_bw + a_w). The
    prior is what makes this beat raw log-odds and PMI for corpus
    contrast: rare words can't dominate, because their posterior odds
    shrink to the background. Top-20 by |z|, ties broken by token.

    Exactness device: integer token counts; the prior a_w = a0 *
    (y_aw + y_bw)/N is one shared-expression chain; two rounded
    outputs; the top-k has a total order.

    Scale shape: explode + one map-side-combined token rollup + a
    broadcast 1-row total — the same shape as text_tfidf_topk, linear
    in corpus size, k-bounded output."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("lang") == "en").alias("in_a"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0))
        .cast("long")
        .alias("ya"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1))
        .cast("long")
        .alias("yb"),
    )
    tot = counts.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.sum(F.col("ya") + F.col("yb")).cast("long").alias("nall"),
    )
    aw = F.lit(_FW_A0) * (F.col("ya") + F.col("yb")) / F.col("nall")
    delta = F.log(
        (F.col("ya") + aw) / (F.col("na") + _FW_A0 - F.col("ya") - aw)
    ) - F.log((F.col("yb") + aw) / (F.col("nb") + _FW_A0 - F.col("yb") - aw))
    se = F.sqrt(1.0 / (F.col("ya") + aw) + 1.0 / (F.col("yb") + aw))
    z = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        "ya",
        "yb",
        F.round(delta, 6).alias("delta"),
        F.round(delta / se, 6).alias("z"),
        (F.abs(delta / se)).alias("_absz"),
    )
    return (
        z.orderBy(F.col("_absz").desc(), "tok")
        .limit(_FW_TOPK)
        .drop("_absz")
    )
