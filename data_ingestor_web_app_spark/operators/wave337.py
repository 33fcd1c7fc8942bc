"""Wave-337: Chatterjee's rank correlation xi (Chatterjee, JASA 2021),
Siegel's repeated-median slope (Siegel, Biometrika 1982), and the
p-chart attribute control chart (Shewhart 1931).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_chatterjee_xi",
    oracle="""
    WITH u AS (
        SELECT CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS k,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
    grid AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_le
        FROM grid
    ),
    ranked AS (
        SELECT u.k, CAST(cum.cum_le AS BIGINT) AS r,
               n.n - CAST(cum.cum_le AS BIGINT)
                   + (SELECT c FROM grid WHERE grid.v = u.v) AS l
        FROM u JOIN cum ON cum.v = u.v CROSS JOIN n
    ),
    diffs AS (
        SELECT ABS(r - LAG(r) OVER (ORDER BY k)) AS dr FROM ranked
    ),
    agg AS (
        SELECT (SELECT n FROM n) AS n,
               CAST(SUM(dr) AS BIGINT) AS sum_dr
        FROM diffs WHERE dr IS NOT NULL
    ),
    den AS (
        SELECT CAST(SUM(l * ((SELECT n FROM n) - l)) AS HUGEINT) AS d
        FROM ranked
    )
    SELECT agg.n AS n_obs, agg.sum_dr,
           ROUND(1.0 - CAST(agg.n AS DOUBLE) * agg.sum_dr
                 / (2.0 * CAST(den.d AS DOUBLE)), 6) AS xi
    FROM agg, den
    """,
)
def agg_chatterjee_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi coefficient (JASA 2021 — the new rank
    correlation that consistently estimates HOW MUCH y is a function
    of x, not just monotone association): order events by time (the x
    variable, packed epoch+id total order), rank y = value with the
    ties convention r_i = #{{j: y_j ≤ y_i}}, l_i = #{{j: y_j ≥ y_i}},
    and xi = 1 − n·Σ|r_{{i+1}} − r_i| / (2·Σ l_i(n − l_i)). Near 0 for
    independent series, near 1 when value is a deterministic function
    of time.

    Determinism: ranks come from the bounded centi-value grid's
    cumulative counts (exact integers); the consecutive-rank walk is
    exact integer sums; one closing ratio rounded 6dp.

    Scale shape (Spark): ranks join against the BOUNDED value grid
    (window over an aggregate frame); the x-ordered neighbor walk runs
    as per-day partitioned windows plus a 29-row day-boundary join —
    no corpus-wide single-partition window anywhere. The oracle's
    global ORDER BY is the semantic spec, not the plan."""
    u = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        (
            F.expr("unix_micros(ts)").cast("decimal(38,0)") * 100000000
            + F.col("event_id")
        ).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    n = u.agg(F.count("*").cast("long").alias("n"))
    grid = u.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "v",
        F.col("c").alias("cv"),
        F.sum("c").over(wcum).cast("long").alias("cum_le"),
    )
    ranked = (
        u.join(cum, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            "k",
            F.col("cum_le").alias("r"),
            (F.col("n") - F.col("cum_le") + F.col("cv")).alias("l"),
            "n",
        )
    )
    win = Window.partitionBy("d").orderBy("k")
    within = ranked.select(
        F.abs(F.col("r") - F.lag("r").over(win)).alias("dr")
    ).where(F.col("dr").isNotNull())
    per_day = ranked.groupBy("d").agg(
        F.expr("min_by(r, k)").alias("first_r"),
        F.expr("max_by(r, k)").alias("last_r"),
    )
    wday = Window.orderBy("d")
    boundary = per_day.select(
        F.abs(F.col("first_r") - F.lag("last_r").over(wday)).alias("dr")
    ).where(F.col("dr").isNotNull())
    sum_dr = (
        within.unionAll(boundary)
        .agg(F.sum("dr").cast("long").alias("sum_dr"))
    )
    den = ranked.agg(
        F.sum(
            F.col("l").cast("decimal(38,0)") * (F.col("n") - F.col("l"))
        ).alias("dd")
    )
    out = n.crossJoin(F.broadcast(sum_dr)).crossJoin(F.broadcast(den))
    return out.select(
        F.col("n").alias("n_obs"),
        "sum_dr",
        F.round(
            1.0
            - F.col("n").cast("double")
            * F.col("sum_dr")
            / (2.0 * F.col("dd").cast("double")),
            6,
        ).alias("xi"),
    )


@query(
    "model_siegel_repeated_median",
    oracle="""
    WITH daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS m
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    slopes AS (
        SELECT a.i, MEDIAN((b.m - a.m) / (b.i - a.i)) AS mi
        FROM daily a JOIN daily b ON b.i <> a.i
        GROUP BY a.i
    ),
    fit AS (SELECT MEDIAN(mi) AS slope FROM slopes),
    icept AS (
        SELECT MEDIAN(m - (SELECT slope FROM fit) * i) AS intercept
        FROM daily
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           ROUND((SELECT slope FROM fit), 6) AS rm_slope,
           ROUND((SELECT intercept FROM icept), 6) AS rm_intercept
    """,
)
def model_siegel_repeated_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel's repeated-median regression (Biometrika 1982 — the
    50%-breakdown robust line, stronger than Theil-Sen's 29%): for
    each day i, take the median pairwise slope against every other
    day, then the median of those per-point medians; intercept =
    median(y_i − slope·x_i). The registry's agg_theil_sen is the
    single-median cousin; repeated medians survive half the days being
    corrupted.

    Determinism: daily means are exact rationals; pairwise slopes are
    identical double chains in both engines; MEDIAN (midpoint
    interpolation on even counts) matches Spark's exact percentile
    0.5; rounded 6dp.

    Scale shape: the pair join is days × days (calendar-bounded, 870
    rows) AFTER the corpus collapses to the daily aggregate — the
    O(n²) never touches raw events."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("m")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).alias("i"), "m"
        )
    )
    a = daily.select(F.col("i").alias("ai"), F.col("m").alias("am"))
    b = daily.select(F.col("i").alias("bi"), F.col("m").alias("bm"))
    slopes = (
        a.join(b, F.col("bi") != F.col("ai"))
        .groupBy("ai")
        .agg(
            F.expr(
                "percentile((bm - am) / (bi - ai), 0.5)"
            ).alias("mi")
        )
    )
    fit = slopes.agg(F.expr("percentile(mi, 0.5)").alias("slope"))
    icept = (
        daily.crossJoin(F.broadcast(fit))
        .agg(
            F.expr("percentile(m - slope * i, 0.5)").alias("intercept")
        )
    )
    nd = daily.agg(F.count("*").cast("long").alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            F.round("slope", 6).alias("rm_slope"),
            F.round("intercept", 6).alias("rm_intercept"),
        )
    )


@query(
    "events_p_chart",
    oracle="""
    WITH daily AS (
        SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS defects
        FROM events GROUP BY 1
    ),
    pbar AS (
        SELECT CAST(SUM(defects) AS DOUBLE) / SUM(n) AS p FROM daily
    )
    SELECT d, n AS n_inspected, defects,
           ROUND(CAST(defects AS DOUBLE) / n, 6) AS p_hat,
           ROUND(p, 6) AS p_bar,
           ROUND(p + 3.0 * SQRT(p * (1.0 - p) / n), 6) AS ucl,
           ROUND(GREATEST(p - 3.0 * SQRT(p * (1.0 - p) / n), 0.0), 6)
               AS lcl,
           CAST(defects AS DOUBLE) / n
               > p + 3.0 * SQRT(p * (1.0 - p) / n)
             OR CAST(defects AS DOUBLE) / n
               < GREATEST(p - 3.0 * SQRT(p * (1.0 - p) / n), 0.0)
               AS out_of_control
    FROM daily CROSS JOIN pbar
    ORDER BY d
    """,
)
def events_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The p-chart (Shewhart 1931 — the attribute control chart for
    proportions with varying subgroup sizes): daily error fraction
    against 3-sigma binomial limits p̄ ± 3√(p̄(1−p̄)/n_d), LCL floored
    at 0. The varying-n twin of the registry's c-chart (counts) and
    EWMA/CUSUM rows — the SPC shelf's proportions member.

    Determinism: daily counts are exact integers; p̄ is one exact
    ratio; limits are fixed chains rounded 6dp; the flag compares the
    same unrounded doubles in both engines.

    Scale shape: one daily conditional aggregate + a broadcast 1-row
    center line — linear scan, no window."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("defects"),
        )
    )
    pbar = daily.agg(
        (F.sum("defects").cast("double") / F.sum("n")).alias("p")
    )
    out = daily.crossJoin(F.broadcast(pbar))
    phat = F.col("defects").cast("double") / F.col("n")
    sig = F.sqrt(F.col("p") * (1.0 - F.col("p")) / F.col("n"))
    ucl = F.col("p") + 3.0 * sig
    lcl = F.greatest(F.col("p") - 3.0 * sig, F.lit(0.0))
    return out.select(
        "d",
        F.col("n").alias("n_inspected"),
        "defects",
        F.round(phat, 6).alias("p_hat"),
        F.round(F.col("p"), 6).alias("p_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((phat > ucl) | (phat < lcl)).alias("out_of_control"),
    ).orderBy("d")
