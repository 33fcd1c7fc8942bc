"""Wave-264: risk quantification — the epidemiologist's 2x2 table
(relative risk, risk difference, NNT, Katz log-RR confidence interval;
the absolute-scale companions to agg_odds_ratio_woolf) and the Kupiec
proportion-of-failures backtest for a historical VaR estimate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_risk_measures_2x2",
    oracle="""
    WITH tab AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END
                   AS exposed,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
        FROM events
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN exposed = 1 AND bad = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN exposed = 1 AND bad = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN exposed = 0 AND bad = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN exposed = 0 AND bad = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS d
        FROM tab
    ),
    r AS (
        SELECT a, b, c, d,
               a / CAST(a + b AS DOUBLE) AS r1,
               c / CAST(c + d AS DOUBLE) AS r0
        FROM m
    )
    SELECT a, b, c, d,
           ROUND(r1, 6) AS risk_exposed,
           ROUND(r0, 6) AS risk_unexposed,
           ROUND(r1 / r0, 6) AS relative_risk,
           ROUND(r1 - r0, 6) AS risk_difference,
           ROUND(CASE WHEN r1 = r0 THEN -1.0
                      ELSE 1.0 / ABS(r1 - r0) END, 6) AS nnt,
           ROUND(EXP(LN(r1 / r0)
                     - 1.959964 * SQRT(b / (a * CAST(a + b AS DOUBLE))
                                       + d / (c * CAST(c + d AS DOUBLE)))),
                 6) AS rr_ci_lo,
           ROUND(EXP(LN(r1 / r0)
                     + 1.959964 * SQRT(b / (a * CAST(a + b AS DOUBLE))
                                       + d / (c * CAST(c + d AS DOUBLE)))),
                 6) AS rr_ci_hi
    FROM r
    """,
)
def agg_risk_measures_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2x2 risk panel (Katz et al., Biometrics 1978 for the log-RR
    interval; NNT per Laupacis et al., NEJM 1988, public): weekend
    exposure vs 'error' outcome — relative risk r1/r0, risk difference,
    number-needed-to-treat 1/|RD| (sentinel -1 when risks are equal),
    and the Katz 95% CI exp(ln RR +/- 1.96*sqrt(b/(a(a+b)) +
    d/(c(c+d)))). Where agg_odds_ratio_woolf answers on the odds scale
    (right for case-control), these are the ABSOLUTE-scale numbers a
    cohort design reports — both panels from the same table, the
    methodologists' checklist.

    Exactness device: the four cells stay BIGINT; risks and the CI are
    single rounded chains over exact ratios.

    Scale shape: one conditional aggregate over the scan."""
    tab = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("exposed"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("bad"),
    )
    m = tab.agg(
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("bad") == 1), 1).otherwise(0)
        ).cast("long").alias("a"),
        F.sum(
            F.when((F.col("exposed") == 1) & (F.col("bad") == 0), 1).otherwise(0)
        ).cast("long").alias("b"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("bad") == 1), 1).otherwise(0)
        ).cast("long").alias("c"),
        F.sum(
            F.when((F.col("exposed") == 0) & (F.col("bad") == 0), 1).otherwise(0)
        ).cast("long").alias("d"),
    )
    r1 = F.col("a") / (F.col("a") + F.col("b")).cast("double")
    r0 = F.col("c") / (F.col("c") + F.col("d")).cast("double")
    se = F.sqrt(
        F.col("b") / (F.col("a") * (F.col("a") + F.col("b")).cast("double"))
        + F.col("d") / (F.col("c") * (F.col("c") + F.col("d")).cast("double"))
    )
    return m.select(
        "a",
        "b",
        "c",
        "d",
        F.round(r1, 6).alias("risk_exposed"),
        F.round(r0, 6).alias("risk_unexposed"),
        F.round(r1 / r0, 6).alias("relative_risk"),
        F.round(r1 - r0, 6).alias("risk_difference"),
        F.round(
            F.when(r1 == r0, F.lit(-1.0)).otherwise(1.0 / F.abs(r1 - r0)), 6
        ).alias("nnt"),
        F.round(F.exp(F.log(r1 / r0) - 1.959964 * se), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(r1 / r0) + 1.959964 * se), 6).alias("rr_ci_hi"),
    )


_VAR_Q = 0.95


@query(
    "events_var_backtest_kupiec",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY hidx) AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM hourly
    ),
    ret AS (
        SELECT t, n, x - LAG(x) OVER (ORDER BY t) AS r
        FROM idx
    ),
    train AS (SELECT r FROM ret WHERE r IS NOT NULL AND t <= n // 2),
    var_est AS (
        SELECT PERCENTILE_DISC({1 - _VAR_Q!r}) WITHIN GROUP (ORDER BY r)
                   AS var_lo
        FROM train
    ),
    test_set AS (
        SELECT r FROM ret WHERE r IS NOT NULL AND t > n // 2
    ),
    viol AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN r < v.var_lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM test_set CROSS JOIN var_est v
    )
    SELECT v2.n_test, v2.x AS n_violations,
           ROUND(ve.var_lo, 6) AS var_threshold,
           ROUND(v2.x / CAST(v2.n_test AS DOUBLE), 6) AS violation_rate,
           ROUND(-2 * ((v2.n_test - v2.x) * LN({_VAR_Q!r})
                       + v2.x * LN({1 - _VAR_Q!r})
                       - (v2.n_test - v2.x)
                         * LN(1 - v2.x / CAST(v2.n_test AS DOUBLE))
                       - v2.x * LN(v2.x / CAST(v2.n_test AS DOUBLE))), 6)
               AS kupiec_lr,
           -2 * ((v2.n_test - v2.x) * LN({_VAR_Q!r})
                 + v2.x * LN({1 - _VAR_Q!r})
                 - (v2.n_test - v2.x)
                   * LN(1 - v2.x / CAST(v2.n_test AS DOUBLE))
                 - v2.x * LN(v2.x / CAST(v2.n_test AS DOUBLE)))
               > 3.841459 AS var_rejected
    FROM viol v2 CROSS JOIN var_est ve
    """,
)
def events_var_backtest_kupiec(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest (Kupiec, J. of
    Derivatives 1995, public): estimate the 95% historical VaR (exact
    lower order statistic) of hourly value CHANGES on the first half
    of the series, count violations on the second half, and test the
    violation rate against 5% with the binomial likelihood ratio
    LR = -2[ln L(p0) - ln L(p_hat)] ~ chi2(1) (literal 5% point
    3.841459). The backtest every risk engine runs nightly — and the
    op that catches a VaR model whose tail is too thin (too many
    violations) OR too fat (suspiciously few).

    Exactness device: the VaR threshold is an exact order statistic;
    violation counting is integer; the LR is one ln chain (x = 0 or
    x = n_test would need a limit convention — the fixture has interior
    counts, and the chain is identical either way in both engines).

    Scale shape: hourly rollup, one percentile on the bounded train
    half, one filter-count — train/test split by exact integer index."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    from pyspark.sql import Window

    idx = hourly.select(
        "x",
        F.row_number().over(Window.orderBy("hidx")).alias("t"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    ret = idx.select(
        "t",
        "n",
        (F.col("x") - F.lag("x").over(Window.orderBy("t"))).alias("r"),
    ).where(F.col("r").isNotNull())
    half = F.floor(F.col("n") / 2).cast("long")
    train = ret.where(F.col("t") <= half).select("r")
    var_est = train.agg(
        F.expr(
            "element_at(array_sort(collect_list(r)),"
            f" cast(ceil(count(*) * {1 - _VAR_Q}) as int))"
        ).alias("var_lo")
    )
    test_set = ret.where(F.col("t") > half).select("r")
    viol = test_set.crossJoin(F.broadcast(var_est)).agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.when(F.col("r") < F.col("var_lo"), 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    p_hat = F.col("x") / F.col("n_test").cast("double")
    lr = -2 * (
        (F.col("n_test") - F.col("x")) * math.log(_VAR_Q)
        + F.col("x") * math.log(1 - _VAR_Q)
        - (F.col("n_test") - F.col("x")) * F.log(1 - p_hat)
        - F.col("x") * F.log(p_hat)
    )
    return viol.crossJoin(F.broadcast(var_est)).select(
        "n_test",
        F.col("x").alias("n_violations"),
        F.round("var_lo", 6).alias("var_threshold"),
        F.round(p_hat, 6).alias("violation_rate"),
        F.round(lr, 6).alias("kupiec_lr"),
        (lr > 3.841459).alias("var_rejected"),
    )
