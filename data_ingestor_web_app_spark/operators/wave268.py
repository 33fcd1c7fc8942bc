"""Wave-268: index-number theory and forecast rationality — the
Laspeyres / Paasche / Fisher price indices between the two halves of
the order history, and the Mincer-Zarnowitz regression test (is the
persistence forecast unbiased AND efficient?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_price_index_fisher",
    oracle="""
    WITH li AS (
        SELECT l.l_partkey AS pk,
               CASE WHEN o.o_orderdate < DATE '1995-06-17' THEN 0 ELSE 1
                   END AS period,
               l.l_extendedprice / l.l_quantity AS price,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    pq AS (
        SELECT pk, period,
               SUM(price * qty) / SUM(qty) AS p,
               CAST(SUM(qty) AS BIGINT) AS q
        FROM li GROUP BY pk, period
    ),
    wide AS (
        SELECT pk,
               MAX(CASE WHEN period = 0 THEN p END) AS p0,
               MAX(CASE WHEN period = 1 THEN p END) AS p1,
               MAX(CASE WHEN period = 0 THEN q END) AS q0,
               MAX(CASE WHEN period = 1 THEN q END) AS q1
        FROM pq GROUP BY pk
        HAVING COUNT(DISTINCT period) = 2
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
               SUM(p1 * q0) AS p1q0, SUM(p0 * q0) AS p0q0,
               SUM(p1 * q1) AS p1q1, SUM(p0 * q1) AS p0q1
        FROM wide
    )
    SELECT n_parts,
           ROUND(p1q0 / p0q0, 6) AS laspeyres,
           ROUND(p1q1 / p0q1, 6) AS paasche,
           ROUND(SQRT((p1q0 / p0q0) * (p1q1 / p0q1)), 6) AS fisher,
           ROUND(p1q0 / p0q0 - p1q1 / p0q1, 6) AS lp_gap
    FROM sums
    """,
)
def agg_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral price indices (Laspeyres 1871; Paasche 1874; Fisher's
    ideal index, 1922 — all public) between the first and second half
    of the order history: per-part unit prices (quantity-weighted) and
    quantities in each period, then L = sum p1*q0 / sum p0*q0 (base-
    period basket), P = sum p1*q1 / sum p0*q1 (current basket), and
    Fisher = sqrt(L*P), the superlative index that satisfies the time-
    reversal test. Only parts traded in BOTH periods enter (the matched
    -model method). The emitted L-P gap is the substitution-bias
    bracket every CPI methodology note reports.

    Exactness device: per-part unit prices are exact ratios; the four
    cross-baskets are one-pass sums; four rounded chains.

    Scale shape: one orderkey join, one (part, period) rollup, a
    part-keyed pivot with matched-model HAVING, one moment aggregate —
    index numbers at 100 TB are three shuffles on natural keys."""
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("l_partkey").alias("pk"),
            F.when(
                F.col("o_orderdate") < F.lit("1995-06-17").cast("date"), 0
            )
            .otherwise(1)
            .alias("period"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("price"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )
    pq = li.groupBy("pk", "period").agg(
        (
            F.sum(F.col("price") * F.col("qty")) / F.sum("qty")
        ).alias("p"),
        F.sum("qty").cast("long").alias("q"),
    )
    wide = (
        pq.groupBy("pk")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("p"))).alias("p0"),
            F.max(F.when(F.col("period") == 1, F.col("p"))).alias("p1"),
            F.max(F.when(F.col("period") == 0, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("period") == 1, F.col("q"))).alias("q1"),
            F.count_distinct("period").alias("np"),
        )
        .where(F.col("np") == 2)
    )
    sums = wide.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("p1q0"),
        F.sum(F.col("p0") * F.col("q0")).alias("p0q0"),
        F.sum(F.col("p1") * F.col("q1")).alias("p1q1"),
        F.sum(F.col("p0") * F.col("q1")).alias("p0q1"),
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return sums.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
        F.round(lasp - paas, 6).alias("lp_gap"),
    )


@query(
    "model_mincer_zarnowitz",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT y, LAG(y) OVER (ORDER BY day) AS f
        FROM daily
    ),
    d AS (SELECT y, f FROM pairs WHERE f IS NOT NULL),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(f) AS mf, AVG(y) AS my,
               SUM(f * f) AS sff, SUM(f * y) AS sfy, SUM(y * y) AS syy,
               SUM((y - f) * (y - f)) AS rss_r
        FROM d
    ),
    fit AS (
        SELECT n, mf, my, rss_r,
               (sfy - n * mf * my) / (sff - n * mf * mf) AS b,
               syy - n * my * my
                 - (sfy - n * mf * my) * (sfy - n * mf * my)
                   / (sff - n * mf * mf) AS rss_u
        FROM mom
    )
    SELECT n AS n_pairs,
           ROUND(my - b * mf, 6) AS alpha,
           ROUND(b, 6) AS beta,
           ROUND(rss_r, 6) AS rss_restricted,
           ROUND(rss_u, 6) AS rss_unrestricted,
           ROUND(((rss_r - rss_u) / 2) / (rss_u / (n - 2)), 6) AS f_stat,
           ((rss_r - rss_u) / 2) / (rss_u / (n - 2)) > 3.354131
               AS forecast_irrational
    FROM fit
    """,
)
def model_mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz forecast-rationality regression (Mincer &
    Zarnowitz, NBER 1969, public) for the persistence forecast of the
    daily mean value: regress realized y on forecast f and test the
    JOINT null (alpha, beta) = (0, 1) with the restricted-vs-
    unrestricted F test — RSS_r = sum (y - f)^2 needs no fit at all,
    and RSS_u comes from the closed-form simple OLS. F compared to the
    literal F(2, 27) 5% point 3.354131 (the fixture's 29 pairs give
    n - 2 = 27 denominator df). Rejecting means the forecast
    is BIASED or INEFFICIENT — fixable by the very regression just run,
    which is why MZ is both test and recalibration.

    Exactness device: one moment pass; RSS_u via the Syy_c - Sxy_c^2 /
    Sxx_c identity (no residuals); the flag compares the identical
    unrounded F.

    Scale shape: daily rollup, one lag window, one aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    pairs = daily.select(
        "y", F.lag("y").over(Window.orderBy("day")).alias("f")
    ).where(F.col("f").isNotNull())
    mom = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("f").alias("mf"),
        F.avg("y").alias("my"),
        F.sum(F.col("f") * F.col("f")).alias("sff"),
        F.sum(F.col("f") * F.col("y")).alias("sfy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum((F.col("y") - F.col("f")) * (F.col("y") - F.col("f"))).alias(
            "rss_r"
        ),
    )
    sxx = F.col("sff") - F.col("n") * F.col("mf") * F.col("mf")
    sxy = F.col("sfy") - F.col("n") * F.col("mf") * F.col("my")
    b = sxy / sxx
    rss_u = F.col("syy") - F.col("n") * F.col("my") * F.col("my") - sxy * sxy / sxx
    fit = mom.select(
        "n",
        "mf",
        "my",
        "rss_r",
        b.alias("b"),
        rss_u.alias("rss_u"),
    )
    fstat = ((F.col("rss_r") - F.col("rss_u")) / 2) / (
        F.col("rss_u") / (F.col("n") - 2)
    )
    return fit.select(
        F.col("n").alias("n_pairs"),
        F.round(F.col("my") - F.col("b") * F.col("mf"), 6).alias("alpha"),
        F.round("b", 6).alias("beta"),
        F.round("rss_r", 6).alias("rss_restricted"),
        F.round("rss_u", 6).alias("rss_unrestricted"),
        F.round(fstat, 6).alias("f_stat"),
        (fstat > 3.354131).alias("forecast_irrational"),
    )
