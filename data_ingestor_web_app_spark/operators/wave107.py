"""Wave-107: Epanechnikov KDE on a literal grid in exact integers,
Grubbs' outlier test, and a seasonality-strength statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# literal KDE grid over order values (dollars) and bandwidth
_GRID = tuple(range(0, 525000, 25000))  # 21 points, dollars
_H = 50000  # bandwidth, dollars


def _kde_oracle() -> str:
    cols = ",\n               ".join(
        f"CAST(SUM(GREATEST(CAST(0 AS BIGINT), {_H}::BIGINT * {_H}"
        f" - (dollars - {g}) * (dollars - {g}))) AS BIGINT) AS k_{i}"
        for i, g in enumerate(_GRID)
    )
    outs = "\n        UNION ALL\n        ".join(
        f"SELECT {g} AS grid_point, "
        f"ROUND(0.75 * k_{i} / (CAST(n AS DOUBLE) * {_H} * {_H} * {_H}) * 1e6, 6)"
        f" AS density_e6 FROM piv"
        for i, g in enumerate(_GRID)
    )
    return f"""
    WITH x AS (
        SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS dollars FROM orders
    ),
    piv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {cols}
        FROM x
    )
    SELECT grid_point, density_e6 FROM (
        {outs}
    ) ORDER BY grid_point
    """


@query("model_kde_grid", oracle=_kde_oracle())
def model_kde_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel density estimation (Rosenblatt-Parzen, public) of order
    values on a literal 21-point grid with the Epanechnikov kernel
    K(u) = 0.75(1-u²) and bandwidth 50k — the smooth-histogram
    density readout behind every distribution plot, computed the way a
    distributed engine should: each grid point is ONE conditional
    aggregate column, so the whole curve costs a single pass.

    Determinism: the Epanechnikov kernel is a POLYNOMIAL, so the
    unnormalized kernel mass max(0, h² - (x-g)²) is an exact BIGINT per
    row and its sum is exact regardless of aggregation order — the
    property that makes this kernel (and not the Gaussian) the right
    choice for cross-engine exactness; one double normalization per
    grid point, scaled 1e6 and rounded 6dp.

    Scale shape: one projection + one 21-column aggregate, map-side
    combined; finer grids add columns, not passes."""
    x = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice")).cast("long").alias("dollars")
    )
    aggs = [F.count("*").cast("long").alias("n")]
    for i, g in enumerate(_GRID):
        diff = F.col("dollars") - g
        aggs.append(
            F.sum(F.greatest(F.lit(0).cast("long"), F.lit(_H).cast("long") * _H - diff * diff))
            .cast("long")
            .alias(f"k_{i}")
        )
    piv = x.agg(*aggs)
    # r11: emit the 21 grid rows from the ONE-row aggregate via a single
    # explode(array(struct...)) projection — the old 21-branch unionByName
    # embedded the whole 22-column aggregate subtree PER BRANCH, so the
    # plan scanned and aggregated orders 21 times (and Catalyst analyzed
    # ~21x22 aggregate expressions; measured 11.6 s warm at sf0.01 for a
    # one-pass query). Per-point arithmetic is unchanged.
    points = [
        F.struct(
            F.lit(g).alias("grid_point"),
            F.round(
                0.75 * F.col(f"k_{i}") / (F.col("n").cast("double") * _H * _H * _H) * 1e6,
                6,
            ).alias("density_e6"),
        )
        for i, g in enumerate(_GRID)
    ]
    return (
        piv.select(F.explode(F.array(*points)).alias("p"))
        .select("p.*")
        .orderBy("grid_point")
    )


@query(
    "agg_grubbs_test",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        FROM orders
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss
        FROM x
    ),
    stats AS (
        SELECT n, CAST(s AS DOUBLE) / n AS mu,
               SQRT((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS sd
        FROM m
    ),
    extreme AS (
        SELECT cents, o_orderkey FROM x, stats
        ORDER BY ABS(cents - mu) DESC, o_orderkey LIMIT 1
    )
    SELECT st.n,
           ROUND(e.cents / 100.0, 2) AS suspect_value,
           CAST(e.o_orderkey AS BIGINT) AS suspect_orderkey,
           ROUND(ABS(e.cents - st.mu) / st.sd, 6) AS grubbs_g,
           ABS(e.cents - st.mu) / st.sd > 4.0 AS reject_as_outlier
    FROM extreme e, stats st
    """,
)
def agg_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-residual outlier test (1950,
    public): locate the single most extreme order value and report its
    G = |x - mu|/s against a conservative literal gate (G > 4 flags an
    outlier at any realistic n; the exact critical value needs a
    t-quantile, so the gate is deliberately the simple engineering
    bound) — the formal companion to agg_tukey_outliers' fences,
    pinpointing WHICH row is the worst offender.

    Determinism: moments are exact (x² in HUGEINT/DECIMAL(38,0));
    the argmax of |x - mu| breaks ties on order key; G is a fixed
    double formula rounded 6dp.

    Scale shape: one moment aggregate + one TakeOrderedAndProject by
    the studentized distance — two passes, no sort of the full data."""
    x = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"), "o_orderkey"
    )
    m = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast("double").alias("ss"),
    )
    stats = m.select(
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    extreme = (
        x.crossJoin(F.broadcast(stats))
        .orderBy(F.abs(F.col("cents") - F.col("mu")).desc(), F.asc("o_orderkey"))
        .limit(1)
    )
    g = F.abs(F.col("cents") - F.col("mu")) / F.col("sd")
    return extreme.select(
        "n",
        F.round(F.col("cents") / 100.0, 2).alias("suspect_value"),
        F.col("o_orderkey").cast("long").alias("suspect_orderkey"),
        F.round(g, 6).alias("grubbs_g"),
        (g > 4.0).alias("reject_as_outlier"),
    )


@query(
    "events_seasonality_strength",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x,
               DAYOFWEEK(CAST(ts AS DATE)) AS dow
        FROM events GROUP BY day
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS ss
            FROM daily),
    per_dow AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS sd
        FROM daily GROUP BY dow
    ),
    between_dow AS (
        SELECT CAST(LIST_REDUCE(
                   LIST(CAST(sd AS DOUBLE) * sd / nd ORDER BY dow),
                   (a, b) -> a + b) AS DOUBLE) AS sum_sd2_nd
        FROM per_dow
    )
    SELECT n AS n_days,
           ROUND((sum_sd2_nd - CAST(s AS DOUBLE) * s / n)
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
               AS seasonality_strength,
           ROUND((CAST(ss AS DOUBLE) - sum_sd2_nd)
                 / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n), 6)
               AS residual_share
    FROM tot, between_dow
    """,
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength (the STL-style F_s statistic, Hyndman's
    forecasting canon, public): the share of daily-count variance
    explained by the day-of-week profile — SS_between(dow)/SS_total —
    the one-number answer to 'is there a weekly cycle worth modeling?'
    that the registry's periodogram (amplitude) and seasonal residuals
    (decomposition) bracket from either side.

    Determinism: the day-of-week group sums are exact integers; the
    between-group sum Σ s_d²/n_d folds in a FIXED dow order
    (LIST_REDUCE / sort_array+aggregate); the two variance ratios are
    fixed double formulas rounded 6dp.

    Scale shape: one groupBy-to-days, one 7-group aggregate, one
    7-element ordered fold."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
        .select("day", "x", F.dayofweek("day").alias("dow"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    per_dow = daily.groupBy("dow").agg(
        F.count("*").cast("long").alias("nd"), F.sum("x").cast("long").alias("sd")
    )
    between = per_dow.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("dow", "sd", "nd"))),
            F.lit(0.0),
            lambda acc, r: acc + r.sd.cast("double") * r.sd / r.nd,
        ).alias("sum_sd2_nd")
    )
    sst = F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssb = F.col("sum_sd2_nd") - F.col("s").cast("double") * F.col("s") / F.col("n")
    return tot.crossJoin(F.broadcast(between)).select(
        F.col("n").alias("n_days"),
        F.round(ssb / sst, 6).alias("seasonality_strength"),
        F.round((F.col("ss").cast("double") - F.col("sum_sd2_nd")) / sst, 6).alias(
            "residual_share"
        ),
    )
