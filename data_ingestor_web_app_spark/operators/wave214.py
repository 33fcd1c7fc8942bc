"""Wave-214: exact LAD (least-absolute-deviations) regression via
support-pair enumeration, and the rank-based confidence interval for
the Theil-Sen slope.

The robust-line family (Theil-Sen point estimate, Huber, RANSAC) lacked
two things: the actual L1-OPTIMAL line, and an uncertainty statement.
LAD uses the classic fact that some optimal L1 line passes through two
data points — on the per-day series the candidate set is the bounded
pair grid, every residual numerator is an exact integer, and the argmin
is deterministic. The Theil-Sen CI is Sen's (1968) distribution-free
order-statistic interval on the pairwise slopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_Z95 = 1.959963984540054

_DAILY_SQL = """daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    )"""


@query(
    "model_lad_regression",
    oracle=f"""
    WITH {_DAILY_SQL},
    cand AS (
        SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj,
               b.x - a.x AS den
        FROM daily a JOIN daily b ON a.x < b.x
    ),
    losses AS (
        SELECT c.xi, c.xj, c.den,
               CAST(SUM(ABS((d.y - c.yi) * c.den
                            - (c.yj - c.yi) * (d.x - c.xi)))
                    AS BIGINT) AS absnum
        FROM cand c, daily d
        GROUP BY c.xi, c.xj, c.den, c.yi, c.yj
    ),
    best AS (
        SELECT xi, xj, den, absnum,
               CAST(absnum AS DOUBLE) / den AS loss
        FROM losses ORDER BY CAST(absnum AS DOUBLE) / den, xi, xj
        LIMIT 1
    )
    SELECT b.xi AS support_x1, b.xj AS support_x2,
           ROUND((a2.y - a1.y) / CAST(b.den AS DOUBLE), 6) AS slope,
           ROUND(a1.y - (a2.y - a1.y) / CAST(b.den AS DOUBLE) * a1.x, 6)
               AS intercept,
           ROUND(b.loss, 4) AS l1_loss
    FROM best b
    JOIN daily a1 ON a1.x = b.xi
    JOIN daily a2 ON a2.x = b.xj
    """,
)
def model_lad_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact least-absolute-deviations line for daily spend vs day: an
    optimal L1 line always passes through two sample points, so the
    bounded candidate grid (all day pairs) is searched exhaustively and
    the minimum-total-|residual| line wins. LAD is the 50%-quantile
    regression — unlike OLS it ignores the magnitude of outlier days
    entirely, and unlike Theil-Sen it is the actual L1 optimum, not a
    median-of-slopes heuristic.

    Determinism: for the line through (xi,yi),(xj,yj), every residual
    scales to the exact integer (y-yi)*(xj-xi) - (yj-yi)*(x-xi); the
    per-candidate loss is an exact integer sum divided once by the
    integer den (identical double), and the argmin tie-breaks on
    (xi, xj).

    Scale shape: the series collapses to per-day rows first; candidates
    x points is days^3 ~ 27k exact-integer rows — constant in corpus
    size (the documented aggregate-then-polynomial posture)."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    a = daily.select(
        F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    b = daily.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    cand = a.join(b, F.col("xi") < F.col("xj")).withColumn(
        "den", F.col("xj") - F.col("xi")
    )
    losses = (
        cand.crossJoin(daily)  # bounded: day-pairs x days
        .groupBy("xi", "xj", "den", "yi", "yj")
        .agg(
            F.sum(
                F.abs(
                    (F.col("y") - F.col("yi")) * F.col("den")
                    - (F.col("yj") - F.col("yi"))
                    * (F.col("x") - F.col("xi"))
                )
            )
            .cast("long")
            .alias("absnum")
        )
    )
    best = (
        losses.withColumn(
            "loss", F.col("absnum").cast("double") / F.col("den")
        )
        .orderBy("loss", "xi", "xj")
        .limit(1)
    )
    slope = (F.col("yj") - F.col("yi")) / F.col("den").cast("double")
    return best.select(
        F.col("xi").alias("support_x1"),
        F.col("xj").alias("support_x2"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("yi") - slope * F.col("xi"), 6).alias("intercept"),
        F.round("loss", 4).alias("l1_loss"),
    )


@query(
    "model_theil_sen_ci",
    oracle=f"""
    WITH {_DAILY_SQL},
    slopes AS (
        SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS sl,
               a.x AS xi, b.x AS xj
        FROM daily a JOIN daily b ON a.x < b.x
    ),
    ranked AS (
        SELECT sl, ROW_NUMBER() OVER (ORDER BY sl, xi, xj) AS k,
               COUNT(*) OVER () AS m
        FROM slopes
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    lims AS (
        SELECT m.m, n.n,
               CAST(FLOOR((m.m - {_Z95} * SQRT(n.n * (n.n - 1.0e0)
                    * (2 * n.n + 5) / 18.0e0)) / 2) AS BIGINT) AS klo,
               CAST(CEIL((m.m + {_Z95} * SQRT(n.n * (n.n - 1.0e0)
                    * (2 * n.n + 5) / 18.0e0)) / 2) + 1 AS BIGINT) AS khi
        FROM (SELECT MAX(m) AS m FROM ranked) m, nn n
    )
    SELECT l.n AS n_days, l.m AS n_slopes,
           ROUND((SELECT QUANTILE_CONT(sl, 0.5) FROM slopes), 6)
               AS sen_slope,
           ROUND((SELECT sl FROM ranked WHERE k = l.klo), 6) AS ci_lo,
           ROUND((SELECT sl FROM ranked WHERE k = LEAST(l.khi, l.m)), 6)
               AS ci_hi
    FROM lims l
    """,
)
def model_theil_sen_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's (1968) distribution-free confidence interval for the
    Theil-Sen slope of daily spend: rank all pairwise slopes, take the
    order statistics at (M -+ z*sqrt(Var_S))/2 where Var_S =
    n(n-1)(2n+5)/18 is the Mann-Kendall variance. The existing
    agg_theil_sen gives the point estimate; this says how much the
    robust trend could move — the difference between "spend is rising"
    and "spend is rising by 120 to 480 units/day, 95% CI".

    Determinism: slopes are integer-ratio doubles ranked with (xi, xj)
    tie-breaks; the CI indices are exact integer floor/ceil of a shared
    closed-form expression; the median uses the interpolated percentile
    (identical in both engines).

    Scale shape: per-day collapse, then the bounded day-pair grid —
    constant in corpus size."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    a = daily.select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = daily.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    slopes = a.join(b, F.col("xi") < F.col("xj")).select(
        (
            (F.col("yj") - F.col("yi"))
            / (F.col("xj") - F.col("xi")).cast("double")
        ).alias("sl"),
        "xi",
        "xj",
    )
    ranked = slopes.withColumn(
        "k",
        F.row_number().over(
            # bounded: day-pair grid (~n^2/2 rows, constant in corpus)
            Window.orderBy("sl", "xi", "xj")
        ),
    )
    # m, n and the CI order-statistic indices folded into the plan as a
    # 1-row broadcast (no build-time count jobs); F.sqrt/floor/ceil are
    # the same IEEE chain the oracle runs
    lims = (
        slopes.agg(F.count("*").cast("long").alias("m"))
        .crossJoin(
            F.broadcast(daily.agg(F.count("*").cast("long").alias("n")))
        )
        .select(
            "m",
            "n",
            (
                F.lit(_Z95)
                * F.sqrt(
                    F.col("n")
                    * (F.col("n") - 1.0)
                    * (2 * F.col("n") + 5)
                    / 18.0
                )
            ).alias("c"),
        )
        .select(
            "m",
            "n",
            F.floor((F.col("m") - F.col("c")) / 2).cast("long").alias("klo"),
            F.least(
                F.ceil((F.col("m") + F.col("c")) / 2) + 1, F.col("m")
            ).cast("long").alias("khi"),
        )
    )
    med = slopes.agg(F.expr("percentile(sl, 0.5)").alias("sen_slope"))
    rk = ranked.crossJoin(F.broadcast(lims))
    lo = rk.where(F.col("k") == F.col("klo")).select(
        F.col("sl").alias("ci_lo"), "n", "m"
    )
    hi = rk.where(F.col("k") == F.col("khi")).select(F.col("sl").alias("ci_hi"))
    return (
        med.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("m").cast("long").alias("n_slopes"),
            F.round("sen_slope", 6).alias("sen_slope"),
            F.round("ci_lo", 6).alias("ci_lo"),
            F.round("ci_hi", 6).alias("ci_hi"),
        )
    )
