"""Wave-247: the seasonal Mann-Kendall trend test (trend detection that
survives a daily cycle) and the Clauset-Shalizi-Newman power-law MLE on
the co-occurrence graph's degree distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_seasonal_mann_kendall",
    oracle="""
    WITH cells AS (
        SELECT EXTRACT(hour FROM ts) AS season,
               CAST(ts AS DATE) AS day,
               AVG(value) AS x
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.season,
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
        FROM cells a JOIN cells b
          ON b.season = a.season AND b.day > a.day
    ),
    s_h AS (
        SELECT season, CAST(SUM(sgn) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY season
    ),
    n_h AS (
        SELECT season, CAST(COUNT(*) AS BIGINT) AS n
        FROM cells GROUP BY season
    ),
    var_h AS (
        SELECT n_h.season,
               n_h.n * (n_h.n - 1) * (2 * n_h.n + 5) / 18.0 AS v
        FROM n_h
    ),
    tot AS (
        SELECT CAST(SUM(s_h.s) AS BIGINT) AS s_total,
               SUM(var_h.v) AS var_total,
               CAST(COUNT(*) AS BIGINT) AS n_seasons
        FROM s_h JOIN var_h ON var_h.season = s_h.season
    )
    SELECT s_total, ROUND(var_total, 6) AS var_total, n_seasons,
           ROUND(CASE WHEN s_total > 0
                      THEN (s_total - 1) / SQRT(var_total)
                      WHEN s_total < 0
                      THEN (s_total + 1) / SQRT(var_total)
                      ELSE 0.0 END, 6) AS z,
           ABS(CASE WHEN s_total > 0
                    THEN (s_total - 1) / SQRT(var_total)
                    WHEN s_total < 0
                    THEN (s_total + 1) / SQRT(var_total)
                    ELSE 0.0 END) > 1.959964 AS trend_detected
    FROM tot
    """,
)
def events_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch & Slack, WRR 1984,
    public) with hour-of-day seasons: within each of the 24 seasons,
    S_h = sum of sign(x_j - x_i) over DAY pairs of that season's daily
    means, so the strong diurnal cycle can never masquerade as a trend
    (plain agg_mann_kendall compares 3am to 3pm and gets fooled); the
    per-season variances n(n-1)(2n+5)/18 add (independence across
    seasons, Hirsch-Slack's assumption A), and the continuity-corrected
    z tests the summed S. Daily means are continuous doubles — the tie
    term is identically zero here, stated rather than computed.

    Exactness device: signs and S stay integers; the variance is exact
    rational arithmetic in doubles; the z CASE and flag compare
    identical chains.

    Scale shape: one (hour, day) rollup over the scan, then per-season
    pair joins over the BOUNDED day frame (30 days -> 435 pairs x 24
    seasons) — at longer horizons the pair join stays O(seasons *
    days^2) on aggregates, never on facts."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.hour("ts").cast("long").alias("season"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.avg("value").alias("x"))
    )
    a = cells.select("season", F.col("day").alias("da"), F.col("x").alias("xa"))
    b = cells.select(
        F.col("season").alias("sb"),
        F.col("day").alias("db"),
        F.col("x").alias("xb"),
    )
    pairs = a.join(
        b, (F.col("sb") == F.col("season")) & (F.col("db") > F.col("da"))
    ).select(
        "season",
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    s_h = pairs.groupBy("season").agg(
        F.sum("sgn").cast("long").alias("s")
    )
    var_h = (
        cells.groupBy("season")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "season",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18.0
            ).alias("v"),
        )
    )
    tot = s_h.join(var_h, "season").agg(
        F.sum("s").cast("long").alias("s_total"),
        F.sum("v").alias("var_total"),
        F.count("*").cast("long").alias("n_seasons"),
    )
    z = (
        F.when(
            F.col("s_total") > 0,
            (F.col("s_total") - 1) / F.sqrt(F.col("var_total")),
        )
        .when(
            F.col("s_total") < 0,
            (F.col("s_total") + 1) / F.sqrt(F.col("var_total")),
        )
        .otherwise(F.lit(0.0))
    )
    return tot.select(
        "s_total",
        F.round("var_total", 6).alias("var_total"),
        "n_seasons",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959964).alias("trend_detected"),
    )


_PL_KMIN = 2


@query(
    "graph_powerlaw_alpha",
    oracle=f"""
    WITH buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
                      AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges)
        GROUP BY node
    ),
    tail AS (SELECT k FROM deg WHERE k >= {_PL_KMIN}),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
               CAST(MAX(k) AS BIGINT) AS max_k,
               1.0 + COUNT(*) / SUM(LN(k / ({_PL_KMIN} - 0.5))) AS alpha
        FROM tail
    ),
    byk AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM tail GROUP BY k
    ),
    ccdf AS (
        SELECT k,
               SUM(cnt) OVER (ORDER BY k DESC) / CAST(f.n_tail AS DOUBLE)
                   AS emp,
               EXP((1.0 - f.alpha)
                   * LN((k - 0.5) / ({_PL_KMIN} - 0.5))) AS fitted
        FROM byk CROSS JOIN fit f
    )
    SELECT f.n_tail, f.max_k,
           ROUND(f.alpha, 6) AS alpha,
           ROUND((SELECT MAX(ABS(emp - fitted)) FROM ccdf), 6) AS ks_d
    FROM fit f
    """,
)
def graph_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE for the co-occurrence graph's degree tail
    (Clauset, Shalizi & Newman, SIAM Review 2009, public): alpha = 1 +
    n / sum ln(k / (kmin - 1/2)) — the continuous MLE with the CSN
    half-shift that corrects discrete degrees — for kmin = 2, plus the
    KS distance between the empirical tail CCDF and the fitted
    (k-1/2 / kmin-1/2)^(1-alpha), the goodness number CSN bootstrap.
    Scale-free vs not decides hub handling (salting, broadcast
    thresholds) for every downstream graph join.

    Exactness device: powers are written EXP((1-alpha)*LN(.)) in BOTH
    engines (NOTES_BUILD: POW is not cross-engine ulp-stable; exp/ln
    compositions are); the CCDF is a DESC cumulative count over the
    bounded degree frame.

    Scale shape: degree rollup + a groupBy-k frame (hundreds of rows at
    any graph size) — the screen runs before any traversal."""
    e = table(spark, sf_dir, "events")
    buckets = e.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = buckets.select(F.col("user_id").alias("u"), "event_type", "m")
    b = buckets.select(F.col("user_id").alias("v"), "event_type", "m")
    edges = (
        a.join(b, ["event_type", "m"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("k"))
    )
    tail = deg.where(F.col("k") >= _PL_KMIN).select("k")
    fit = tail.agg(
        F.count("*").cast("long").alias("n_tail"),
        F.max("k").cast("long").alias("max_k"),
        (
            1.0
            + F.count("*") / F.sum(F.log(F.col("k") / (_PL_KMIN - 0.5)))
        ).alias("alpha"),
    )
    byk = tail.groupBy("k").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ccdf = byk.crossJoin(F.broadcast(fit)).select(
        (F.sum("cnt").over(w) / F.col("n_tail").cast("double")).alias("emp"),
        F.exp(
            (1.0 - F.col("alpha"))
            * F.log((F.col("k") - 0.5) / (_PL_KMIN - 0.5))
        ).alias("fitted"),
    )
    ks = ccdf.agg(
        F.max(F.abs(F.col("emp") - F.col("fitted"))).alias("ks_d")
    )
    return fit.crossJoin(F.broadcast(ks)).select(
        "n_tail",
        "max_k",
        F.round("alpha", 6).alias("alpha"),
        F.round("ks_d", 6).alias("ks_d"),
    )
