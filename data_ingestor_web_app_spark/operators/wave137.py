"""Wave-137: lagged cross-correlation and a 1-lag Granger causality F
test between the daily count and value series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DAILY_XY = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY day
    )
"""


@query(
    "events_cross_correlation_lagged",
    oracle=f"""
    WITH {_DAILY_XY},
    lagged AS (
        SELECT d.day, d.x,
               CASE k WHEN 0 THEN y WHEN 1 THEN LAG(y, 1) OVER wk WHEN 2 THEN LAG(y, 2) OVER wk WHEN 3 THEN LAG(y, 3) OVER wk WHEN 4 THEN LAG(y, 4) OVER wk WHEN 5 THEN LAG(y, 5) OVER wk WHEN 6 THEN LAG(y, 6) OVER wk WHEN 7 THEN LAG(y, 7) OVER wk END AS ylag,
               k.k
        FROM daily d
        CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) AS k) k
        WINDOW wk AS (PARTITION BY k.k ORDER BY day)
    ),
    pairs AS (SELECT k, x, ylag FROM lagged WHERE ylag IS NOT NULL),
    s AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(ylag AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS qx,
               SUM(CAST(ylag AS HUGEINT) * ylag) AS qy,
               SUM(CAST(x AS HUGEINT) * ylag) AS sxy
        FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag_days, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * qx - sx * sx AS DOUBLE))
                 / SQRT(CAST(n * qy - sy * sy AS DOUBLE)), 6) AS ccf
    FROM s
    """,
)
def events_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation function between daily event count x_t
    and daily value total y_{t−k}, k = 0..7 (Box & Jenkins, public): the
    lead-lag detector — a peak at k > 0 means revenue LEADS traffic by k
    days. Pairs with events_transfer_entropy's directional
    information-flow view of the same two series.

    Determinism: all five moment sums are exact BIGINTs per lag; each
    CCF value is one double chain (two sqrts, one division order).

    Scale shape: map-side daily collapse; the 8-lag fan-out is a
    broadcast cross join over the tiny daily frame with per-lag window
    shifts."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    ks = daily.sparkSession.range(0, 8).select(F.col("id").cast("int").alias("k"))
    wk = Window.partitionBy("k").orderBy("day")
    ylag = F.when(F.col("k") == 0, F.col("y"))
    for kk in range(1, 8):
        ylag = ylag.when(F.col("k") == kk, F.lag("y", kk).over(wk))
    lagged = daily.crossJoin(F.broadcast(ks)).select(
        "day", "x", "k", ylag.alias("ylag")
    )
    s = (
        lagged.where(F.col("ylag").isNotNull())
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("ylag").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("qx"),
            # y ~ 1.5e9 at sf0.1: y^2 sums and sy^2 overflow BIGINT — the
            # whole moment algebra runs in DECIMAL(38)/HUGEINT instead
            F.sum(F.col("ylag").cast("decimal(38,0)") * F.col("ylag")).alias("qy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("ylag")).alias("sxy"),
        )
    )
    return s.select(
        F.col("k").cast("long").alias("lag_days"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt((F.col("n") * F.col("qx") - F.col("sx") * F.col("sx")).cast("double"))
            / F.sqrt((F.col("n") * F.col("qy") - F.col("sy") * F.col("sy")).cast("double")),
            6,
        ).alias("ccf"),
    )


@query(
    "events_granger_f",
    oracle=f"""
    WITH {_DAILY_XY},
    l AS (
        SELECT day, x, y,
               LAG(x) OVER (ORDER BY day) AS xl,
               LAG(y) OVER (ORDER BY day) AS yl
        FROM daily
    ),
    d AS (SELECT x, xl, yl FROM l WHERE xl IS NOT NULL),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s0,
               CAST(SUM(xl) AS BIGINT) AS s1,
               CAST(SUM(yl) AS BIGINT) AS s2,
               CAST(SUM(xl * xl) AS BIGINT) AS q11,
               CAST(SUM(yl * yl) AS BIGINT) AS q22,
               CAST(SUM(xl * yl) AS BIGINT) AS q12,
               CAST(SUM(x * xl) AS BIGINT) AS p1,
               CAST(SUM(x * yl) AS BIGINT) AS p2,
               CAST(SUM(x * x) AS BIGINT) AS q00
        FROM d
    ),
    c AS (
        SELECT n,
               q11 - CAST(s1 AS DOUBLE) * s1 / n AS a11,
               q22 - CAST(s2 AS DOUBLE) * s2 / n AS a22,
               q12 - CAST(s1 AS DOUBLE) * s2 / n AS a12,
               p1 - CAST(s0 AS DOUBLE) * s1 / n AS b1,
               p2 - CAST(s0 AS DOUBLE) * s2 / n AS b2,
               q00 - CAST(s0 AS DOUBLE) * s0 / n AS syy
        FROM s
    ),
    fit AS (
        SELECT n, syy,
               syy - b1 * b1 / a11 AS rss_r,
               syy - (a22 * b1 * b1 - 2 * a12 * b1 * b2 + a11 * b2 * b2)
                     / (a11 * a22 - a12 * a12) AS rss_u
        FROM c
    )
    SELECT n AS n_obs,
           ROUND(rss_r, 4) AS rss_restricted,
           ROUND(rss_u, 4) AS rss_unrestricted,
           ROUND((rss_r - rss_u) / (rss_u / (n - 3)), 6) AS f_stat
    FROM fit
    """,
)
def events_granger_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality F-test, one lag (Granger, Econometrica 1969,
    public): does yesterday's revenue improve the prediction of today's
    traffic beyond yesterday's traffic? Restricted OLS x_t ~ x_{t−1} vs
    unrestricted x_t ~ x_{t−1} + y_{t−1}, both solved in closed form
    from centered moment sums (the 2×2 normal equations), F = (RSS_r −
    RSS_u)/(RSS_u/(n−3)). The regression-flavored sibling of
    events_transfer_entropy — linear where TE is distribution-free.

    Determinism: every moment is an exact BIGINT; centering, the 2×2
    solve, and F are one identical double chain.

    Scale shape: map-side daily collapse; one aggregate row; no
    iteration (closed-form OLS)."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    w = Window.orderBy("day")
    l = daily.select(
        "x",
        F.lag("x").over(w).alias("xl"),
        F.lag("y").over(w).alias("yl"),
    ).where(F.col("xl").isNotNull())
    s = l.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s0"),
        F.sum("xl").cast("long").alias("s1"),
        F.sum("yl").cast("long").alias("s2"),
        F.sum(F.col("xl") * F.col("xl")).cast("long").alias("q11"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("q22"),
        F.sum(F.col("xl") * F.col("yl")).cast("long").alias("q12"),
        F.sum(F.col("x") * F.col("xl")).cast("long").alias("p1"),
        F.sum(F.col("x") * F.col("yl")).cast("long").alias("p2"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q00"),
    )
    a11 = F.col("q11") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    a22 = F.col("q22") - F.col("s2").cast("double") * F.col("s2") / F.col("n")
    a12 = F.col("q12") - F.col("s1").cast("double") * F.col("s2") / F.col("n")
    b1 = F.col("p1") - F.col("s0").cast("double") * F.col("s1") / F.col("n")
    b2 = F.col("p2") - F.col("s0").cast("double") * F.col("s2") / F.col("n")
    syy = F.col("q00") - F.col("s0").cast("double") * F.col("s0") / F.col("n")
    rss_r = syy - b1 * b1 / a11
    rss_u = syy - (a22 * b1 * b1 - 2 * a12 * b1 * b2 + a11 * b2 * b2) / (
        a11 * a22 - a12 * a12
    )
    return s.select(
        F.col("n").alias("n_obs"),
        F.round(rss_r, 4).alias("rss_restricted"),
        F.round(rss_u, 4).alias("rss_unrestricted"),
        F.round((rss_r - rss_u) / (rss_u / (F.col("n") - 3)), 6).alias("f_stat"),
    )
