"""Wave-207: return-series risk metrics (Sharpe, Sortino, empirical
VaR/CVaR) and the partial autocorrelation function to lag 3 via
Durbin-Levinson closed forms.

Completes the series-diagnostics family (ACF, Hurst, DFA, drawdown are
registered): PACF is what actually picks an AR order, and the risk
quartet is the standard summary of any metric's day-over-day change
distribution. Returns quantize to nano-ints once; every downstream
moment is exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"

_RETS_SQL = """daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    rets AS (
        SELECT a.d,
               CAST(FLOOR(1e9 * (a.y - p.y) / CAST(p.y AS DOUBLE))
                    AS BIGINT) AS rn
        FROM daily a JOIN daily p ON p.d = a.d - 1
    )"""


@query(
    "events_risk_metrics",
    oracle=f"""
    WITH {_RETS_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS s,
               CAST(SUM(CAST(rn AS HUGEINT) * rn) AS HUGEINT) AS s2,
               CAST(SUM(CASE WHEN rn < 0 THEN CAST(rn AS HUGEINT) * rn
                             ELSE 0 END) AS HUGEINT) AS sdown2,
               CAST(SUM(CASE WHEN rn < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ndown
        FROM rets
    ),
    var95 AS (
        SELECT rn AS var_n
        FROM (SELECT rn, ROW_NUMBER() OVER (ORDER BY rn, d) AS k,
                     COUNT(*) OVER () AS n
              FROM rets)
        WHERE k = CAST(CEIL(0.05 * n) AS BIGINT)
    ),
    cvar AS (
        SELECT CAST(SUM(r.rn) AS BIGINT) AS stail,
               CAST(COUNT(*) AS BIGINT) AS ntail
        FROM rets r, var95 v WHERE r.rn <= v.var_n
    )
    SELECT m.n AS n_days,
           ROUND(m.s / (1e9 * m.n), 6) AS mean_ret,
           ROUND(SQRT(CAST(m.n * m.s2 - CAST(m.s AS HUGEINT) * m.s
                           AS DOUBLE))
                 / (1e9 * m.n), 6) AS std_ret,
           ROUND((m.s / CAST(m.n AS DOUBLE))
                 / (SQRT(CAST(m.n * m.s2 - CAST(m.s AS HUGEINT) * m.s
                              AS DOUBLE)) / m.n), 6) AS sharpe,
           ROUND((m.s / CAST(m.n AS DOUBLE))
                 / (1e9 * SQRT(CAST(m.sdown2 AS DOUBLE) / (1e18 * m.n))),
                 6) AS sortino,
           ROUND(v.var_n / 1e9, 6) AS var_95,
           ROUND(c.stail / (1e9 * c.ntail), 6) AS cvar_95
    FROM mom m, var95 v, cvar c
    """,
)
def events_risk_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk quartet of the daily spend return series (r_t = day-over-day
    relative change): Sharpe (mean/std, zero benchmark), Sortino
    (mean/downside-std), empirical 95% VaR (the 5th-percentile order
    statistic) and CVaR/expected-shortfall (mean of the tail at or below
    VaR). The standard one-row risk posture of any volatile daily
    metric — and CVaR is what the VaR point estimate famously hides.

    Determinism: returns quantize to nano-ints once (floor of an
    identical double division), so every moment, the order-statistic
    VaR (rank ceil(0.05 n) with a day tie-break), and the tail mean are
    exact integer arithmetic.

    Scale shape: per-day collapse first; the order statistic runs on
    the bounded calendar frame (the oracle's global window is the spec;
    the per-day frame is constant-size in corpus)."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    prev = daily.select((F.col("d") + 1).alias("d"), F.col("y").alias("yp"))
    rets = daily.join(prev, "d").select(
        "d",
        F.floor(
            F.lit(1e9) * (F.col("y") - F.col("yp")) / F.col("yp").cast("double")
        )
        .cast("long")
        .alias("rn"),
    )
    mom = rets.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rn").cast("long").alias("s"),
        F.sum(F.col("rn").cast(_DEC) * F.col("rn")).alias("s2"),
        F.sum(
            F.when(
                F.col("rn") < 0, F.col("rn").cast(_DEC) * F.col("rn")
            ).otherwise(F.lit(0).cast(_DEC))
        ).alias("sdown2"),
    )
    # k = ceil(0.05 n) folded into the plan: rank the (bounded, daily)
    # return frame and filter to the first k rows — no build-time count
    # job, no literal LIMIT. floor((5n+99)/100) is exact in double for any
    # calendar-sized n (5n+99 << 2^53).
    ndf = rets.agg(F.count("*").cast("long").alias("nd"))
    var95 = (
        rets.withColumn("rk", F.row_number().over(Window.orderBy("rn", "d")))
        .crossJoin(F.broadcast(ndf))
        .where(F.col("rk") <= F.floor((5 * F.col("nd") + 99) / 100))
        .agg(F.max("rn").alias("var_n"))
    )
    cvar = rets.crossJoin(F.broadcast(var95)).where(
        F.col("rn") <= F.col("var_n")
    ).agg(
        F.sum("rn").cast("long").alias("stail"),
        F.count("*").cast("long").alias("ntail"),
        F.max("var_n").alias("var_n"),
    )
    j = mom.crossJoin(F.broadcast(cvar))
    sd_scaled = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s").cast(_DEC) * F.col("s")).cast(
            "double"
        )
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.round(F.col("s") / (F.lit(1e9) * F.col("n")), 6).alias("mean_ret"),
        F.round(sd_scaled / (F.lit(1e9) * F.col("n")), 6).alias("std_ret"),
        F.round(
            (F.col("s") / F.col("n").cast("double")) / (sd_scaled / F.col("n")),
            6,
        ).alias("sharpe"),
        F.round(
            (F.col("s") / F.col("n").cast("double"))
            / (
                F.lit(1e9)
                * F.sqrt(F.col("sdown2").cast("double") / (F.lit(1e18) * F.col("n")))
            ),
            6,
        ).alias("sortino"),
        F.round(F.col("var_n") / 1e9, 6).alias("var_95"),
        F.round(F.col("stail") / (F.lit(1e9) * F.col("ntail")), 6).alias(
            "cvar_95"
        ),
    )


@query(
    "events_pacf",
    oracle=f"""
    WITH {_RETS_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS s
        FROM rets
    ),
    g AS (
        SELECT k,
               CAST(SUM((m.n * a.rn - m.s)
                        * CAST(m.n * b.rn - m.s AS HUGEINT)) AS HUGEINT)
                   AS gam
        FROM UNNEST([0, 1, 2, 3]) AS t(k)
        JOIN rets a ON TRUE
        JOIN rets b ON b.d = a.d + k, mom m
        GROUP BY k
    ),
    rho AS (
        SELECT MAX(CASE WHEN k = 1 THEN r END) AS r1,
               MAX(CASE WHEN k = 2 THEN r END) AS r2,
               MAX(CASE WHEN k = 3 THEN r END) AS r3
        FROM (SELECT k, CAST(gam AS DOUBLE)
                        / (SELECT CAST(gam AS DOUBLE) FROM g WHERE k = 0)
                        AS r
              FROM g WHERE k > 0)
    )
    SELECT lag, acf, pacf FROM (
        SELECT 1 AS lag, ROUND(r1, 6) AS acf, ROUND(r1, 6) AS pacf
        FROM rho
        UNION ALL
        SELECT 2, ROUND(r2, 6),
               ROUND((r2 - r1 * r1) / (1 - r1 * r1), 6)
        FROM rho
        UNION ALL
        SELECT 3, ROUND(r3, 6),
               ROUND((r3 - r1 * (r2 - r1 * r1) / (1 - r1 * r1)
                      - r2 * (r1 - r1 * (r2 - r1 * r1) / (1 - r1 * r1)))
                     / (1 - r1 * (r1 - r1 * (r2 - r1 * r1)
                                  / (1 - r1 * r1))
                          - r2 * (r2 - r1 * r1) / (1 - r1 * r1)), 6)
        FROM rho
    ) ORDER BY lag
    """,
)
def events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily return series at lags 1-3
    via the Durbin-Levinson closed forms: phi_11 = rho1, phi_22 =
    (rho2 - rho1^2)/(1 - rho1^2), and the lag-3 recursion expanded
    symbolically. ACF (already registered) says WHETHER memory exists;
    PACF says the AR ORDER — the pair is how one reads off AR(p) before
    fitting anything.

    Determinism: autocovariances use the n-scaled centered identity
    (n*r_t - S)(n*r_{t+k} - S) on nano-int returns — exact 128-bit
    integers; rhos and the two closed-form PACF expressions are fixed
    double expressions identical in both engines.

    Scale shape: per-day collapse, then lag joins on the bounded
    calendar frame — constant work in corpus size."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    prev = daily.select((F.col("d") + 1).alias("d"), F.col("y").alias("yp"))
    # r11 lineage truncation (wave124 idiom): rets is referenced three
    # times (moments + both lag sides) and itself embeds the daily rollup
    # twice, so the un-fenced plan re-expanded the events scan ~12x
    # (measured 60 Exchanges / 24 scans for a 3-row output); g is
    # referenced by both g0 and the rho projection. Both frames are
    # calendar-/lag-sized - free to materialize.
    rets = daily.join(prev, "d").select(
        "d",
        F.floor(
            F.lit(1e9) * (F.col("y") - F.col("yp")) / F.col("yp").cast("double")
        )
        .cast("long")
        .alias("rn"),
    ).localCheckpoint(eager=True)
    mom = rets.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rn").cast("long").alias("s"),
    )
    lags = spark.range(0, 4).select(F.col("id").cast("long").alias("k"))
    a = rets.select("d", F.col("rn").alias("ra"))
    b = rets.select(F.col("d").alias("db"), F.col("rn").alias("rb"))
    g = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("d") + F.col("k"))
        .crossJoin(F.broadcast(mom))
        .groupBy("k")
        .agg(
            F.sum(
                (F.col("n") * F.col("ra") - F.col("s")).cast(_DEC)
                * (F.col("n") * F.col("rb") - F.col("s"))
            ).alias("gam")
        )
        .localCheckpoint(eager=True)  # 4 rows; referenced by g0 AND rho
    )
    g0 = g.where("k = 0").select(F.col("gam").alias("g0"))
    rho = (
        g.where("k > 0")
        .crossJoin(F.broadcast(g0))
        .select(
            "k",
            (F.col("gam").cast("double") / F.col("g0").cast("double")).alias(
                "r"
            ),
        )
        .agg(
            F.max(F.when(F.col("k") == 1, F.col("r"))).alias("r1"),
            F.max(F.when(F.col("k") == 2, F.col("r"))).alias("r2"),
            F.max(F.when(F.col("k") == 3, F.col("r"))).alias("r3"),
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 - r1 * phi22
    phi33 = (r3 - r1 * phi22 - r2 * phi21) / (1 - r1 * phi21 - r2 * phi22)
    # r11: the 3 lag rows come from ONE explode(array(struct...)) over the
    # 1-row autocorrelation aggregate — the old 3-branch unionAll embedded
    # (and re-executed) the lag/moment subtree per branch. Per-lag
    # expressions unchanged.
    lag_structs = [
        F.struct(
            F.lit(1).cast("int").alias("lag"),
            F.round(r1, 6).alias("acf"),
            F.round(r1, 6).alias("pacf"),
        ),
        F.struct(
            F.lit(2).cast("int").alias("lag"),
            F.round(r2, 6).alias("acf"),
            F.round(phi22, 6).alias("pacf"),
        ),
        F.struct(
            F.lit(3).cast("int").alias("lag"),
            F.round(r3, 6).alias("acf"),
            F.round(phi33, 6).alias("pacf"),
        ),
    ]
    return (
        rho.select(F.explode(F.array(*lag_structs)).alias("r"))
        .select("r.*")
        .orderBy("lag")
    )
