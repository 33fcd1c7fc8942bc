"""Wave-183: water-filling token-budget allocation across sources and the
Kolmogorov-Smirnov score-separation statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "pipeline_waterfill_budget",
    oracle="""
    WITH src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS weight_docs,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS cap_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(cap_tokens) AS BIGINT) AS ct,
               CAST(SUM(weight_docs) AS BIGINT) AS wt,
               CAST(SUM(cap_tokens) // 2 AS BIGINT) AS budget
        FROM src
    ),
    ordered AS (
        SELECT s.source, s.weight_docs, s.cap_tokens, t.budget, t.wt,
               CAST(s.cap_tokens AS DOUBLE) / s.weight_docs AS ratio,
               COALESCE(SUM(s.cap_tokens) OVER w, 0) AS cumc_before,
               COALESCE(SUM(s.weight_docs) OVER w, 0) AS cumw_before
        FROM src s CROSS JOIN tot t
        WINDOW w AS (ORDER BY CAST(s.cap_tokens AS DOUBLE) / s.weight_docs,
                              s.source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conds AS (
        SELECT *,
               CASE WHEN cap_tokens * (wt - cumw_before)
                         <= (budget - cumc_before) * weight_docs
                    THEN 1 ELSE 0 END AS cond
        FROM ordered
    ),
    capped AS (
        SELECT *,
               MIN(cond) OVER (ORDER BY ratio, source
                               ROWS UNBOUNDED PRECEDING) AS is_capped_i
        FROM conds
    ),
    rem AS (
        SELECT *,
               budget - COALESCE(SUM(CASE WHEN is_capped_i = 1
                                          THEN cap_tokens END) OVER (), 0)
                   AS rem_t,
               wt - COALESCE(SUM(CASE WHEN is_capped_i = 1
                                      THEN weight_docs END) OVER (), 0)
                   AS rem_w
        FROM capped
    )
    SELECT source, weight_docs, cap_tokens,
           is_capped_i = 1 AS is_capped,
           CAST(CASE WHEN is_capped_i = 1 THEN cap_tokens
                     WHEN rem_w > 0 THEN weight_docs * rem_t // rem_w
                     ELSE 0 END AS BIGINT) AS allocated_tokens
    FROM rem
    """,
)
def pipeline_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation — the mixture problem every
    training-data pipeline solves: split a total token budget (here half
    the corpus) across sources proportionally to their document weight,
    except no source can contribute more tokens than it has. Sources sort
    by capacity-per-weight; the greedy prefix that satisfies
    cap * remaining_weight <= remaining_budget * weight binds at its cap
    (exact integer cross-multiplication — no division in the decision),
    and the rest share the leftover budget by floor-apportioned weight.
    Complements pipeline_mixture_weights/epoch_caps, which assume the
    allocation; this computes it.

    Determinism: caps, weights, budgets, the binding condition, and the
    apportionment are all exact integers (DIV/`//`); the only double is
    the sort ratio, identical in both engines as a ratio of identical
    ints, with the source name as tie-break; the running-AND "capped"
    prefix rides a MIN window so the greedy cut point is explicit.

    Scale shape: one groupBy(source) over the corpus, then windows over
    the (tiny) per-source frame — the allocation itself never touches
    documents again; at 100 TB the source rollup is the only real
    shuffle."""
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("weight_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("cap_tokens"),
    )
    tot = src.agg(
        F.sum("cap_tokens").cast("long").alias("ct"),
        F.sum("weight_docs").cast("long").alias("wt"),
        F.expr("CAST(sum(cap_tokens) DIV 2 AS BIGINT)").alias("budget"),
    )
    ratio = F.col("cap_tokens").cast("double") / F.col("weight_docs")
    wb = (
        Window.orderBy(ratio, "source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = src.crossJoin(tot).select(
        "source",
        "weight_docs",
        "cap_tokens",
        "budget",
        "wt",
        ratio.alias("ratio"),
        F.coalesce(F.sum("cap_tokens").over(wb), F.lit(0)).alias("cumc_before"),
        F.coalesce(F.sum("weight_docs").over(wb), F.lit(0)).alias("cumw_before"),
    )
    cond = F.when(
        F.col("cap_tokens") * (F.col("wt") - F.col("cumw_before"))
        <= (F.col("budget") - F.col("cumc_before")) * F.col("weight_docs"),
        F.lit(1),
    ).otherwise(F.lit(0))
    wrun = Window.orderBy("ratio", "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    capped = ordered.select(
        "*", F.min(cond).over(wrun).alias("is_capped_i")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rem = capped.select(
        "*",
        (
            F.col("budget")
            - F.coalesce(
                F.sum(
                    F.when(F.col("is_capped_i") == 1, F.col("cap_tokens"))
                ).over(wall),
                F.lit(0),
            )
        ).alias("rem_t"),
        (
            F.col("wt")
            - F.coalesce(
                F.sum(
                    F.when(F.col("is_capped_i") == 1, F.col("weight_docs"))
                ).over(wall),
                F.lit(0),
            )
        ).alias("rem_w"),
    )
    return rem.select(
        "source",
        "weight_docs",
        "cap_tokens",
        (F.col("is_capped_i") == 1).alias("is_capped"),
        F.when(F.col("is_capped_i") == 1, F.col("cap_tokens"))
        .when(F.col("rem_w") > 0, F.expr("weight_docs * rem_t DIV rem_w"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("allocated_tokens"),
    )


@query(
    "model_ks_lift_separation",
    oracle="""
    WITH scored AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    per AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY score
    ),
    tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS n1,
               CAST(SUM(cnt - pos) AS BIGINT) AS n0
        FROM per
    ),
    cum AS (
        SELECT score,
               SUM(pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                   AS cum_pos,
               SUM(cnt - pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                   AS cum_neg
        FROM per
    ),
    diffs AS (
        SELECT c.score,
               ABS(c.cum_pos * t.n0 - c.cum_neg * t.n1) AS sep, t.n1, t.n0
        FROM cum c CROSS JOIN tot t
    )
    SELECT CAST(MIN(n1) AS BIGINT) AS n_pos,
           CAST(MIN(n0) AS BIGINT) AS n_neg,
           CAST(MAX(sep) AS BIGINT) AS ks_x_n1n0,
           CAST(MAX(sep) AS DOUBLE) / (MIN(n1) * MIN(n0)) AS ks_stat,
           CAST(MIN(CASE WHEN sep = (SELECT MAX(sep) FROM diffs)
                         THEN score END) AS BIGINT) AS ks_threshold_cents
    FROM diffs
    """,
)
def model_ks_lift_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov score separation — credit-scoring's standard
    single-number model readout, sharing model_auc_roc's scored frame
    (score = order total in cents, positive = finalized orders): KS = max
    over thresholds of |CDF_pos(t) - CDF_neg(t)|, reported with the exact
    integer numerator (max |cum_pos*n0 - cum_neg*n1|), the KS statistic,
    and the LOWEST threshold achieving it. A fully-separating score has
    KS = 1; identical class distributions give KS ~ 0.

    Determinism: CDFs never materialize as floats — the maximized
    quantity is cross-multiplied into exact BIGINTs; the only double is
    one terminal division of identical ints; threshold ties break to the
    minimum score.

    Scale shape: one groupBy(score) with map-side partials, one window
    over distinct scores ordered by score, one global aggregate — same
    rank-statistics posture as model_auc_roc (which shares the shuffle
    key, so a combined scorecard pipeline reuses the exchange)."""
    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per = o.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = per.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n0"),
    )
    wc = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "score",
        F.sum("pos").over(wc).alias("cum_pos"),
        F.sum(F.col("cnt") - F.col("pos")).over(wc).alias("cum_neg"),
    )
    diffs = cum.crossJoin(tot).select(
        "score",
        F.abs(
            F.col("cum_pos") * F.col("n0") - F.col("cum_neg") * F.col("n1")
        ).alias("sep"),
        "n1",
        "n0",
    )
    wmax = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = diffs.select(
        "*", F.max("sep").over(wmax).alias("max_sep")
    )
    return flagged.agg(
        F.min("n1").cast("long").alias("n_pos"),
        F.min("n0").cast("long").alias("n_neg"),
        F.max("sep").cast("long").alias("ks_x_n1n0"),
        (F.max("sep").cast("double") / (F.min("n1") * F.min("n0"))).alias("ks_stat"),
        F.min(F.when(F.col("sep") == F.col("max_sep"), F.col("score")))
        .cast("long")
        .alias("ks_threshold_cents"),
    )
