"""Wave-104: Brier-score Murphy decomposition, two-cohort log-rank
test, and Hamilton largest-remainder budget apportionment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KM_K = 10


def _brier_oracle() -> str:
    # fixed-order sums over the 11 literal forecast bins b = 0..10
    rel_terms = " + ".join(
        f"CASE WHEN n_{b} = 0 THEN 0.0 ELSE "
        f"CAST((n_{b} * {b} - 10 * p_{b}) AS DOUBLE)"
        f" * (n_{b} * {b} - 10 * p_{b}) / (100.0 * n_{b}) END"
        for b in range(11)
    )
    res_terms = " + ".join(
        f"CASE WHEN n_{b} = 0 THEN 0.0 ELSE "
        f"(CAST(p_{b} AS DOUBLE) / n_{b} - CAST(pos AS DOUBLE) / n)"
        f" * (CAST(p_{b} AS DOUBLE) / n_{b} - CAST(pos AS DOUBLE) / n) * n_{b} END"
        for b in range(11)
    )
    brier_terms = " + ".join(
        f"CAST(({b} * {b} * n_{b} - 2 * {b} * 10 * p_{b} + 100 * p_{b}) AS DOUBLE)"
        f" / 100.0"
        for b in range(11)
    )
    cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN b = {b} THEN 1 ELSE 0 END) AS BIGINT) AS n_{b}, "
        f"CAST(SUM(CASE WHEN b = {b} THEN y ELSE 0 END) AS BIGINT) AS p_{b}"
        for b in range(11)
    )
    return f"""
    WITH x AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS b,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    piv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos,
               {cols}
        FROM x
    )
    SELECT n,
           ROUND(({brier_terms}) / n, 6) AS brier_score,
           ROUND(({rel_terms}) / n, 6) AS reliability,
           ROUND(({res_terms}) / n, 6) AS resolution,
           ROUND(CAST(pos AS DOUBLE) / n * (1 - CAST(pos AS DOUBLE) / n), 6)
               AS uncertainty
    FROM piv
    """


@query("model_brier_decomposition", oracle=_brier_oracle())
def model_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (Brier 1950 / Murphy
    1973, public): treating discount/10 as a 'return probability
    forecast' with 11 literal bins, report the Brier score and its
    exact split Brier = uncertainty - resolution + reliability — the
    decomposition that tells you whether a probabilistic model is bad
    because it is MISCALIBRATED (reliability) or merely UNINFORMATIVE
    (low resolution). Extends model_calibration_ece with the proper
    scoring-rule view.

    Determinism: per-bin counts pivot to 22 exact integer columns, and
    every decomposition term is a FIXED-ORDER 11-term expression whose
    numerators are exact integers (forecasts are tenths, so 10x/100x
    scaling clears denominators); display rounds 6dp.

    Scale shape: one projection + one conditional aggregate — the
    whole decomposition costs a single map-side-combined pass."""
    x = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("long").alias("b"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ]
    for b in range(11):
        aggs.append(
            F.sum(F.when(F.col("b") == b, 1).otherwise(0)).cast("long").alias(f"n_{b}")
        )
        aggs.append(
            F.sum(F.when(F.col("b") == b, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"p_{b}")
        )
    piv = x.agg(*aggs)

    def rel_term(b):
        num = (F.col(f"n_{b}") * b - 10 * F.col(f"p_{b}"))
        return F.when(F.col(f"n_{b}") == 0, F.lit(0.0)).otherwise(
            num.cast("double") * num / (100.0 * F.col(f"n_{b}"))
        )

    def res_term(b):
        diff = F.col(f"p_{b}").cast("double") / F.col(f"n_{b}") - F.col("pos").cast(
            "double"
        ) / F.col("n")
        return F.when(F.col(f"n_{b}") == 0, F.lit(0.0)).otherwise(
            diff * diff * F.col(f"n_{b}")
        )

    def brier_term(b):
        return (
            b * b * F.col(f"n_{b}")
            - 2 * b * 10 * F.col(f"p_{b}")
            + 100 * F.col(f"p_{b}")
        ).cast("double") / 100.0

    rel = sum([rel_term(b) for b in range(1, 11)], start=rel_term(0))
    res = sum([res_term(b) for b in range(1, 11)], start=res_term(0))
    brier = sum([brier_term(b) for b in range(1, 11)], start=brier_term(0))
    ybar = F.col("pos").cast("double") / F.col("n")
    return piv.select(
        "n",
        F.round(brier / F.col("n"), 6).alias("brier_score"),
        F.round(rel / F.col("n"), 6).alias("reliability"),
        F.round(res / F.col("n"), 6).alias("resolution"),
        F.round(ybar * (1 - ybar), 6).alias("uncertainty"),
    )


def _logrank_oracle() -> str:
    # unrolled fixed-order O-E and variance sums across the 10 time steps
    cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN NOT censored AND t = {k} AND grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1_{k}, "
        f"CAST(SUM(CASE WHEN NOT censored AND t = {k} THEN 1 ELSE 0 END) AS BIGINT) AS d_{k}, "
        f"CAST(SUM(CASE WHEN t >= {k} AND grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1_{k}, "
        f"CAST(SUM(CASE WHEN t >= {k} THEN 1 ELSE 0 END) AS BIGINT) AS r_{k}"
        for k in range(1, _KM_K + 1)
    )
    oe = " + ".join(
        f"(CASE WHEN r_{k} = 0 THEN 0.0 ELSE d1_{k} - CAST(d_{k} AS DOUBLE) * r1_{k} / r_{k} END)"
        for k in range(1, _KM_K + 1)
    )
    v = " + ".join(
        f"(CASE WHEN r_{k} <= 1 THEN 0.0 ELSE "
        f"CAST(d_{k} AS DOUBLE) * r1_{k} / r_{k} * (r_{k} - r1_{k}) / r_{k}"
        f" * (r_{k} - d_{k}) / (r_{k} - 1) END)"
        for k in range(1, _KM_K + 1)
    )
    return f"""
    WITH bounds AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
    activity AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS d0,
               MAX(CAST(ts AS DATE)) AS dlast,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purch
        FROM events GROUP BY user_id
    ),
    pop AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_purch) AS BIGINT) AS total_purch
        FROM activity
    ),
    times AS (
        SELECT CASE WHEN a.n_purch * p.n_users > p.total_purch THEN 1 ELSE 0 END
                   AS grp,
               CASE WHEN DATEDIFF('day', dlast, dmax) <= 3
                    THEN DATEDIFF('day', d0, dmax)
                    ELSE DATEDIFF('day', d0, dlast) + 1 END AS t,
               DATEDIFF('day', dlast, dmax) <= 3 AS censored
        FROM activity a, bounds, pop p
    ),
    piv AS (SELECT {cols} FROM times)
    SELECT ROUND({oe}, 6) AS observed_minus_expected,
           ROUND({v}, 6) AS variance,
           ROUND(CASE WHEN ({v}) = 0 THEN 0.0
                      ELSE ({oe}) * ({oe}) / ({v}) END, 6) AS logrank_chi2,
           CASE WHEN ({v}) = 0 THEN FALSE
                ELSE ({oe}) * ({oe}) / ({v}) > 3.841459 END
               AS reject_equal_survival
    FROM piv
    """


@query("events_logrank_test", oracle=_logrank_oracle())
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966, public) comparing user survival
    between heavy purchasers (above-average, group 1) and the rest:
    at each lifetime day, observed group-1 churns minus the
    hypergeometric expectation d·r1/r, summed with the matching
    variance — the standard 'do these cohorts churn differently?'
    test that completes the survival family (Kaplan-Meier curve, RMST
    summary, log-rank comparison).

    Determinism: all death/at-risk counts pivot to exact integer
    columns per time step; O-E, the variance and the chi-square are
    FIXED-ORDER 10-term expressions with per-step zero guards; the
    verdict compares against the literal chi2(1) 95th percentile.

    Scale shape: one per-user aggregate + one conditional pivot —
    constant-width arithmetic after; K steps = 4K integer columns."""
    bounds = table(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("dmax")
    )
    activity = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("d0"),
            F.max(F.col("ts").cast("date")).alias("dlast"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
        )
    )
    pop = activity.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_purch").cast("long").alias("total_purch"),
    )
    times = (
        activity.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(pop))
        .select(
            F.when(F.col("n_purch") * F.col("n_users") > F.col("total_purch"), 1)
            .otherwise(0)
            .alias("grp"),
            F.when(F.datediff("dmax", "dlast") <= 3, F.datediff("dmax", "d0"))
            .otherwise(F.datediff("dlast", "d0") + 1)
            .alias("t"),
            (F.datediff("dmax", "dlast") <= 3).alias("censored"),
        )
    )
    aggs = []
    for k in range(1, _KM_K + 1):
        aggs += [
            F.sum(
                F.when((~F.col("censored")) & (F.col("t") == k) & (F.col("grp") == 1), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"d1_{k}"),
            F.sum(F.when((~F.col("censored")) & (F.col("t") == k), 1).otherwise(0))
            .cast("long")
            .alias(f"d_{k}"),
            F.sum(F.when((F.col("t") >= k) & (F.col("grp") == 1), 1).otherwise(0))
            .cast("long")
            .alias(f"r1_{k}"),
            F.sum(F.when(F.col("t") >= k, 1).otherwise(0)).cast("long").alias(f"r_{k}"),
        ]
    piv = times.agg(*aggs)

    def oe_term(k):
        return F.when(F.col(f"r_{k}") == 0, F.lit(0.0)).otherwise(
            F.col(f"d1_{k}")
            - F.col(f"d_{k}").cast("double") * F.col(f"r1_{k}") / F.col(f"r_{k}")
        )

    def v_term(k):
        return F.when(F.col(f"r_{k}") <= 1, F.lit(0.0)).otherwise(
            F.col(f"d_{k}").cast("double")
            * F.col(f"r1_{k}")
            / F.col(f"r_{k}")
            * (F.col(f"r_{k}") - F.col(f"r1_{k}"))
            / F.col(f"r_{k}")
            * (F.col(f"r_{k}") - F.col(f"d_{k}"))
            / (F.col(f"r_{k}") - 1)
        )

    oe = sum([oe_term(k) for k in range(2, _KM_K + 1)], start=oe_term(1))
    v = sum([v_term(k) for k in range(2, _KM_K + 1)], start=v_term(1))
    chi2 = F.when(v == 0, F.lit(0.0)).otherwise(oe * oe / v)
    return piv.select(
        F.round(oe, 6).alias("observed_minus_expected"),
        F.round(v, 6).alias("variance"),
        F.round(chi2, 6).alias("logrank_chi2"),
        F.when(v == 0, F.lit(False))
        .otherwise(oe * oe / v > 3.841459)
        .alias("reject_equal_survival"),
    )


@query(
    "pipeline_token_apportionment",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)
                    AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM per),
    quota AS (
        SELECT source, tokens,
               tokens * 1000000 // total AS floor_share,
               tokens * 1000000 % total AS remainder,
               total
        FROM per, tot
    ),
    shortfall AS (
        SELECT CAST(1000000 - SUM(floor_share) AS BIGINT) AS missing FROM quota
    ),
    ranked AS (
        SELECT source, tokens, floor_share,
               ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rr
        FROM quota
    )
    SELECT source, tokens,
           CAST(floor_share + CASE WHEN rr <= missing THEN 1 ELSE 0 END
                AS BIGINT) AS budget_ppm,
           rr <= missing AS got_remainder_seat
    FROM ranked, shortfall
    ORDER BY source
    """,
)
def pipeline_token_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment (1792, public) of a
    fixed 1,000,000-ppm training-token budget across sources: each
    source gets the floor of its proportional quota, and the leftover
    seats go to the largest fractional remainders — the exact-integer
    allocation every mixture builder needs when 'proportional' must sum
    EXACTLY to the budget (naive rounding over- or under-shoots).

    Determinism: quotas, floors, remainders and the seat ranking are
    pure integer arithmetic (remainder ties break on source name);
    nothing is floating point at all.

    Scale shape: one token-count groupBy per source, a scalar total,
    and a |sources|-row ranking."""
    per = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                + 1
            )
            .cast("long")
            .alias("tokens")
        )
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("total"))
    quota = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr("tokens * 1000000 div total").cast("long").alias("floor_share"),
        (F.col("tokens") * 1000000 % F.col("total")).alias("remainder"),
    )
    shortfall = quota.agg(
        (F.lit(1000000) - F.sum("floor_share")).cast("long").alias("missing")
    )
    w = Window.orderBy(F.desc("remainder"), F.asc("source"))
    ranked = quota.withColumn("rr", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(shortfall))
        .select(
            "source",
            "tokens",
            (
                F.col("floor_share")
                + F.when(F.col("rr") <= F.col("missing"), 1).otherwise(0)
            )
            .cast("long")
            .alias("budget_ppm"),
            (F.col("rr") <= F.col("missing")).alias("got_remainder_seat"),
        )
        .orderBy("source")
    )
