"""Wave-103: intraclass correlation (one-way ANOVA components), max
drawdown with peak/trough dates, and UCB1 source selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_icc_anova",
    oracle="""
    WITH x AS (
        SELECT c_nationkey AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders JOIN customer ON c_custkey = o_custkey
    ),
    per_g AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(y) AS BIGINT) AS sg
        FROM x GROUP BY g
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS k,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS ssq
        FROM x
    ),
    between_g AS (
        SELECT CAST(LIST_REDUCE(
                   LIST(CAST(sg AS DOUBLE) * sg / ng ORDER BY g),
                   (a, b) -> a + b) AS DOUBLE) AS sum_sg2_ng,
               CAST(LIST_REDUCE(LIST(CAST(ng * ng AS DOUBLE) ORDER BY g),
                    (a, b) -> a + b) AS DOUBLE) AS sum_ng2
        FROM per_g
    ),
    comp AS (
        SELECT n, k,
               (sum_sg2_ng - CAST(s AS DOUBLE) * s / n) / (k - 1) AS msb,
               (ssq - sum_sg2_ng) / (n - k) AS msw,
               (CAST(n AS DOUBLE) - sum_ng2 / n) / (k - 1) AS n0
        FROM tot, between_g
    )
    SELECT n, k,
           ROUND(msb / 1e10, 6) AS ms_between_e10,
           ROUND(msw / 1e10, 6) AS ms_within_e10,
           ROUND((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc1
    FROM comp
    """,
)
def agg_icc_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1) (Fisher / Shrout-Fleiss, public)
    of order values clustered by customer nation: from one-way ANOVA
    mean squares, ICC = (MSB - MSW)/(MSB + (n0-1)·MSW) with the
    unbalanced-design group size n0 — the number that tells an
    experimenter how much cluster randomization inflates variance
    (design effect = 1 + (m-1)·ICC) and a survey team how 'clustered'
    a metric is. Completes the ANOVA family (agg_anova_oneway) with
    the variance-components reading.

    Determinism: group sums/counts are exact; Σ s_g²/n_g and Σ n_g²
    fold in a FIXED group order (LIST_REDUCE / sort_array+aggregate —
    the Holt pattern), y² sums in HUGEINT/DECIMAL(38,0); mean squares
    and ICC are fixed double formulas rounded.

    Scale shape: one keyed groupBy + one scalar aggregate + a
    |groups|-element ordered fold."""
    x = (
        table(spark, sf_dir, "orders")
        .join(
            F.broadcast(table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        )
    )
    per_g = x.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"), F.sum("y").cast("long").alias("sg")
    )
    tot = x.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("g").cast("long").alias("k"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast("double").alias("ssq"),
    )
    between = per_g.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "sg", "ng"))),
            F.lit(0.0),
            lambda acc, r: acc + r.sg.cast("double") * r.sg / r.ng,
        ).alias("sum_sg2_ng"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "ng"))),
            F.lit(0.0),
            lambda acc, r: acc + (r.ng * r.ng).cast("double"),
        ).alias("sum_ng2"),
    )
    comp = tot.crossJoin(F.broadcast(between)).select(
        "n",
        "k",
        (
            (F.col("sum_sg2_ng") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("k") - 1)
        ).alias("msb"),
        ((F.col("ssq") - F.col("sum_sg2_ng")) / (F.col("n") - F.col("k"))).alias("msw"),
        (
            (F.col("n").cast("double") - F.col("sum_ng2") / F.col("n"))
            / (F.col("k") - 1)
        ).alias("n0"),
    )
    return comp.select(
        "n",
        "k",
        F.round(F.col("msb") / 1e10, 6).alias("ms_between_e10"),
        F.round(F.col("msw") / 1e10, 6).alias("ms_within_e10"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("n0") - 1) * F.col("msw")),
            6,
        ).alias("icc1"),
    )


@query(
    "events_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
        GROUP BY day
    ),
    eq AS (
        SELECT day,
               SUM(v) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS p
        FROM daily
    ),
    runs AS (
        SELECT day, p,
               MAX(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
        FROM eq
    ),
    worst AS (
        SELECT day AS trough_day, p, peak, peak - p AS dd
        FROM runs ORDER BY dd DESC, day LIMIT 1
    ),
    peak_day AS (
        SELECT MIN(r.day) AS peak_day
        FROM runs r, worst w
        WHERE r.p = w.peak AND r.day <= w.trough_day
    )
    SELECT STRFTIME(pd.peak_day, '%Y-%m-%d') AS peak_day,
           STRFTIME(w.trough_day, '%Y-%m-%d') AS trough_day,
           ROUND(w.dd / 100.0, 2) AS max_drawdown,
           ROUND(CASE WHEN w.peak = 0 THEN 0.0
                      ELSE w.dd * 1.0 / w.peak END, 6) AS drawdown_frac
    FROM worst w, peak_day pd
    """,
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown (the finance risk classic, public) of the
    cumulative purchase-revenue curve: the largest peak-to-trough loss,
    with the peak and trough DATES recovered — the mirror of
    events_max_gain_window (Kadane), using the running-maximum identity
    dd_i = max_{j<=i} P_j - P_i instead of the running minimum.

    Determinism: the equity curve is exact integer cents; prefix sums,
    running maxima, the argmax (dd DESC, day) and the peak-recovery
    join are all integer/exact; two display divisions round.

    Scale shape: groupBy-to-days then ordered windows over the tiny
    series — per-instrument partitioning at scale, as with the whole
    series family."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("v"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    runs = daily.select(
        "day", F.sum("v").over(w).alias("p")
    ).select("day", "p", F.max("p").over(w).alias("peak"))
    worst = (
        runs.select("day", "p", "peak", (F.col("peak") - F.col("p")).alias("dd"))
        .orderBy(F.desc("dd"), F.asc("day"))
        .limit(1)
        .select(
            F.col("day").alias("trough_day"), F.col("peak").alias("wpeak"), F.col("dd")
        )
    )
    peak_day = (
        runs.join(
            F.broadcast(worst),
            (F.col("p") == F.col("wpeak")) & (F.col("day") <= F.col("trough_day")),
        )
        .agg(F.min("day").alias("peak_day"))
    )
    return (
        worst.crossJoin(F.broadcast(peak_day))
        .select(
            F.date_format("peak_day", "yyyy-MM-dd").alias("peak_day"),
            F.date_format("trough_day", "yyyy-MM-dd").alias("trough_day"),
            F.round(F.col("dd") / 100.0, 2).alias("max_drawdown"),
            F.round(
                F.when(F.col("wpeak") == 0, F.lit(0.0)).otherwise(
                    F.col("dd") / F.col("wpeak")
                ),
                6,
            ).alias("drawdown_frac"),
        )
    )


@query(
    "pipeline_source_ucb1",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_pulls,
               CAST(SUM(CASE WHEN n_chars BETWEEN 200 AND 2000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_good
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS big_n FROM per)
    SELECT source, n_pulls,
           ROUND(n_good * 1.0 / n_pulls, 6) AS mean_reward,
           ROUND(SQRT(2 * LN(CAST(big_n AS DOUBLE)) / n_pulls), 6) AS bonus,
           ROUND(n_good * 1.0 / n_pulls
                 + SQRT(2 * LN(CAST(big_n AS DOUBLE)) / n_pulls), 6) AS ucb1,
           rk
    FROM (
        SELECT source, n_pulls, n_good, big_n,
               ROW_NUMBER() OVER (ORDER BY
                   n_good * 1.0 / n_pulls
                   + SQRT(2 * LN(CAST(big_n AS DOUBLE)) / n_pulls) DESC,
                   source) AS rk
        FROM per, tot) s
    ORDER BY rk
    """,
)
def pipeline_source_ucb1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 source selection (Auer et al. 2002, public): treat each
    document source as a bandit arm whose 'reward' is the fraction of
    its documents passing the 200-2000-char quality band, and rank arms
    by mean + sqrt(2 ln N / n) — the optimism bonus that tells an
    adaptive crawler WHICH feed to sample next: exploit good sources,
    but keep under-sampled ones alive. The derandomized batch variant
    (scores from observed history) is exactly what a scheduled pipeline
    recomputes between crawl rounds.

    Determinism: pulls and rewards are exact counts; the score is one
    fixed double formula (single LN, single SQRT) and the ranking
    tie-breaks on source; display rounds 6dp.

    Scale shape: one map-side-combined groupBy per source + a scalar
    total; ranking runs over |sources| rows."""
    per = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pulls"),
            F.sum(F.when(F.col("n_chars").between(200, 2000), 1).otherwise(0))
            .cast("long")
            .alias("n_good"),
        )
    )
    tot = per.agg(F.sum("n_pulls").cast("long").alias("big_n"))
    scored = per.crossJoin(F.broadcast(tot))
    mean_r = F.col("n_good") / F.col("n_pulls")
    bonus = F.sqrt(2 * F.log(F.col("big_n").cast("double")) / F.col("n_pulls"))
    w = Window.orderBy((mean_r + bonus).desc(), F.asc("source"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .select(
            "source",
            "n_pulls",
            F.round(mean_r, 6).alias("mean_reward"),
            F.round(bonus, 6).alias("bonus"),
            F.round(mean_r + bonus, 6).alias("ucb1"),
            "rk",
        )
        .orderBy("rk")
    )
