"""Wave-95: multinomial Naive Bayes source classification, Cliff's
delta effect size in exact half-rank arithmetic, and the Pareto 80/20
concentration cutoff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_naive_bayes",
    oracle="""
    WITH train AS (
        SELECT source, LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents WHERE doc_id % 5 <> 0
    ),
    clean AS (SELECT source, token FROM train WHERE token <> ''),
    vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM clean),
    class_tokens AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS ct FROM clean GROUP BY source
    ),
    tok_counts AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM clean GROUP BY source, token
    ),
    llr AS (
        SELECT t.token, cc.source,
               CAST(FLOOR(LN((COALESCE(tc.c, 0) + 1.0) / (cc.ct + v)) * 1000000)
                    AS BIGINT) AS l_scaled
        FROM (SELECT DISTINCT token FROM clean) t
        CROSS JOIN class_tokens cc
        CROSS JOIN vocab
        LEFT JOIN tok_counts tc ON tc.token = t.token AND tc.source = cc.source
    ),
    test AS (
        SELECT doc_id, source AS true_source,
               LOWER(UNNEST(STRING_SPLIT(text, ' '))) AS token
        FROM documents WHERE doc_id % 5 = 0
    ),
    scored AS (
        SELECT te.doc_id, te.true_source, l.source AS cand,
               CAST(SUM(l.l_scaled) AS BIGINT) AS score
        FROM test te JOIN llr l ON l.token = te.token
        WHERE te.token <> ''
        GROUP BY te.doc_id, te.true_source, l.source
    ),
    pred AS (
        SELECT doc_id, true_source, cand AS pred_source FROM (
            SELECT doc_id, true_source, cand, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand) AS rk
            FROM scored) s
        WHERE rk = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN pred_source = true_source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN pred_source = true_source THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS accuracy
    FROM pred
    """,
)
def model_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes (the classic bag-of-words classifier,
    public) predicting each held-out document's SOURCE from its tokens:
    train Laplace-smoothed per-class token log-likelihoods on the 80%
    split (doc_id % 5 != 0), score the 20% holdout by summed
    log-likelihood ratios, report accuracy — the no-embedding baseline
    every text-classification pipeline benchmarks against.

    Determinism: log-likelihoods are floor-scaled BIGINTs
    (LN(p)*1e6 floored once per (token, class)), so per-doc scores sum
    EXACTLY in integers — no float accumulation over unordered token
    groups; argmax ties break on class name. (A 1-ulp LN divergence at
    a floor boundary is the only cross-engine risk; the 3-SF gate
    verifies it does not occur on this corpus. Uniform class priors
    drop out of the argmax.)

    Scale shape: training is two map-side-combined groupBys; the llr
    table is |vocab| x |classes| (bounded by vocabulary, broadcastable
    here, bucketed on token at web scale); scoring is one join on
    token + one integer-sum groupBy per (doc, class)."""
    d = table(spark, sf_dir, "documents")
    train = (
        d.where(F.col("doc_id") % 5 != 0)
        .select("source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    vocab = train.agg(F.countDistinct("token").cast("long").alias("v"))
    class_tokens = train.groupBy("source").agg(F.count("*").cast("long").alias("ct"))
    tok_counts = train.groupBy("source", "token").agg(F.count("*").cast("long").alias("c"))
    tokens = train.select("token").distinct()
    llr = (
        tokens.crossJoin(F.broadcast(class_tokens))
        .crossJoin(F.broadcast(vocab))
        .join(tok_counts, ["source", "token"], "left")
        .select(
            "token",
            "source",
            F.floor(
                F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("ct") + F.col("v")))
                * 1000000
            )
            .cast("long")
            .alias("l_scaled"),
        )
    )
    test = (
        d.where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.col("source").alias("true_source"),
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    scored = (
        test.join(llr, "token")
        .groupBy("doc_id", "true_source", F.col("source").alias("cand"))
        .agg(F.sum("l_scaled").cast("long").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "true_source", F.col("cand").alias("pred_source"))
    )
    return pred.agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.when(F.col("pred_source") == F.col("true_source"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("pred_source") == F.col("true_source"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


@query(
    "agg_cliffs_delta",
    oracle="""
    WITH vals AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
        SELECT grp, cents,
               CAST(2 * RANK() OVER (ORDER BY cents)
                    + (COUNT(*) OVER (PARTITION BY cents) - 1) AS BIGINT)
                   AS dblrank
        FROM vals
    ),
    sums AS (
        SELECT
          CAST(SUM(CASE WHEN grp = '1-URGENT' THEN dblrank ELSE 0 END) AS BIGINT)
              AS r1x2,
          CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM ranked
    )
    SELECT n1, n2,
           ROUND((r1x2 - n1 * (n1 + 1)) * 1.0 / (2 * n1 * n2), 6) AS u1_share,
           ROUND((r1x2 - n1 * (n1 + 1)) * 1.0 / (n1 * n2) - 1, 6) AS cliffs_delta
    FROM sums
    """,
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (1993, public): the ordinal effect size
    P(X>Y) - P(X<Y) between urgent and low-priority order values — the
    practical-significance companion to agg_mann_whitney (which only
    answers 'is there a difference', not 'how big'). Computed through
    the rank-sum identity delta = 2U/(n1·n2) - 1 with midranks for
    ties.

    Determinism: midranks live in halves, so DOUBLED ranks
    (2·rank + ties - 1) are exact BIGINTs; U and delta reduce to one
    fixed double formula over integer sums, rounded 6dp. No float
    exists before the final division.

    Scale shape (r8 rework, VERDICT r7 item 4): collapse to distinct
    cents + per-group tie counts FIRST (one partial-agg shuffle); every
    tied row at value v carries the same doubled midrank
    2·below(v) + k(v) + 1, so the group-1 rank sum is one weighted sum
    over the distinct-value frame — the global cumulative window's
    input is an Aggregate, never raw corpus rows."""
    vals = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    pc = vals.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("k1"),
        F.sum(F.when(F.col("grp") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("k2"),
    )
    wv = Window.orderBy("cents")
    k = F.col("k1") + F.col("k2")
    cum = pc.select(
        "k1",
        "k2",
        (F.sum(k).over(wv) - k).alias("below"),
    )
    # doubled midrank of every row tied at v: 2*(below+1) + (k-1) = 2*below+k+1
    sums = cum.agg(
        F.sum(
            F.col("k1") * (2 * F.col("below") + F.col("k1") + F.col("k2") + 1)
        )
        .cast("long")
        .alias("r1x2"),
        F.sum("k1").cast("long").alias("n1"),
        F.sum("k2").cast("long").alias("n2"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return sums.select(
        "n1",
        "n2",
        F.round(u1x2 / (2 * F.col("n1") * F.col("n2")), 6).alias("u1_share"),
        F.round(u1x2 / (F.col("n1") * F.col("n2")) - 1, 6).alias("cliffs_delta"),
    )


@query(
    "events_pareto_cutoff",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n,
               ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
               SUM(n) OVER (ORDER BY n DESC, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               SUM(n) OVER () AS total,
               COUNT(*) OVER () AS n_users
        FROM per_user
    )
    SELECT CAST(MIN(rk) AS BIGINT) AS users_for_80pct,
           CAST(MAX(n_users) AS BIGINT) AS n_users,
           ROUND(MIN(rk) * 1.0 / MAX(n_users), 6) AS user_share,
           ROUND(MIN(cum_at) * 1.0 / MAX(total), 6) AS event_share_at_cutoff
    FROM (SELECT rk, n_users, total, cum AS cum_at FROM ranked
          WHERE 5 * cum >= 4 * total)
    """,
)
def events_pareto_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto 80/20 cutoff: the smallest set of heaviest users
    whose events cover 80% of all traffic — 'how concentrated is
    usage', the one-number companion to the full Lorenz/Gini family
    already here (events_lorenz_deciles, agg_gini,
    events_top1pct_share). Reports the user count, its population
    share, and the realized coverage at the crossing.

    Determinism: per-user counts, the descending cumulative sum (total
    order via user_id tie-break) and the 80% crossing test
    (5·cum >= 4·total) are all exact integers; two display divisions
    round 6dp.

    Scale shape: one groupBy per user, one global sort for the
    cumulative (range-partitioned at scale), and a min-reduce for the
    crossing — no iteration, no second pass over raw events."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_user.select(
        "n",
        F.row_number().over(w).alias("rk"),
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
        F.count("*").over(Window.partitionBy()).alias("n_users"),
    )
    crossing = ranked.where(5 * F.col("cum") >= 4 * F.col("total"))
    return crossing.agg(
        F.min("rk").cast("long").alias("users_for_80pct"),
        F.max("n_users").cast("long").alias("n_users"),
        F.round(F.min("rk") / F.max("n_users"), 6).alias("user_share"),
        # cum is increasing in rk, so the crossing row's coverage is MIN(cum)
        F.round(F.min("cum") / F.max("total"), 6).alias("event_share_at_cutoff"),
    )
