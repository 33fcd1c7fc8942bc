"""Wave-319 (registry query #1000): negative-binomial overdispersion with
a zero-inflation audit on the hourly grid, and the Lexis ratio of daily
proportions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_negbin_overdispersion",
    oracle="""
    WITH bounds AS (
        SELECT epoch_us(DATE_TRUNC('hour', MIN(ts))) // 3600000000 AS h0,
               epoch_us(DATE_TRUNC('hour', MAX(ts))) // 3600000000 AS h1
        FROM events
    ),
    grid AS (
        SELECT UNNEST(RANGE(h0, h1 + 1)) AS hidx FROM bounds
    ),
    obs AS (
        SELECT epoch_us(DATE_TRUNC('hour', ts)) // 3600000000 AS hidx,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    filled AS (
        SELECT g.hidx, COALESCE(o.x, 0) AS x
        FROM grid g LEFT JOIN obs o ON g.hidx = o.hidx
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2,
               CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zeros
        FROM filled
    ),
    d AS (
        SELECT n, zeros,
               CAST(s1 AS DOUBLE) / n AS m,
               CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS v
        FROM mom
    )
    SELECT n AS n_hours, zeros AS zero_hours,
           ROUND(m, 6) AS mean_per_hour,
           ROUND(v / m, 6) AS dispersion_index,
           ROUND(m * m / (v - m), 6) AS negbin_k,
           ROUND(n * EXP(-m), 6) AS poisson_expected_zeros,
           ROUND(n * POWER((m * m / (v - m))
                           / (m * m / (v - m) + m),
                           m * m / (v - m)), 6) AS negbin_expected_zeros,
           v / m > 1 AS overdispersed
    FROM d
    """,
)
def agg_negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial overdispersion fit with a zero-inflation audit
    (Cameron & Trivedi, 'Regression Analysis of Count Data'; NB
    method-of-moments k = m²/(v-m); the excess-zeros diagnostic that
    motivates Lambert's 1992 ZIP models — all public) on the COMPLETE
    hourly grid (empty hours included via a calendar range join — the
    step naive groupBys silently skip, and exactly where zero-inflation
    hides): dispersion index v/m (Poisson = 1), the MoM NB size k, and
    the observed zero hours against BOTH the Poisson n·e^(-m) and NB
    n·(k/(k+m))^k expectations. Observed >> NB expectation = true
    zero-inflation (outages, not randomness); between Poisson and NB =
    plain overdispersion.

    Determinism: the grid is exact integer epoch-hours; counts exact;
    fixed chains rounded 6dp; the flag compares the unrounded index.

    Scale shape: one hourly collapse + a calendar-bounded range frame
    left-joined to it; one moment aggregate."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        (F.expr("unix_micros(date_trunc('hour', min(ts)))") / 3600000000)
        .cast("long")
        .alias("h0"),
        (F.expr("unix_micros(date_trunc('hour', max(ts)))") / 3600000000)
        .cast("long")
        .alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hidx")
    )
    obs = e.groupBy(
        (F.expr("unix_micros(date_trunc('hour', ts))") / 3600000000)
        .cast("long")
        .alias("hidx")
    ).agg(F.count("*").cast("long").alias("x"))
    filled = grid.join(obs, "hidx", "left").select(
        F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    mom = filled.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zeros"),
    )
    m = F.col("s1").cast("double") / F.col("n")
    v = F.col("s2").cast("double") / F.col("n") - m * m
    k = m * m / (v - m)
    return mom.select(
        F.col("n").alias("n_hours"),
        F.col("zeros").alias("zero_hours"),
        F.round(m, 6).alias("mean_per_hour"),
        F.round(v / m, 6).alias("dispersion_index"),
        F.round(k, 6).alias("negbin_k"),
        F.round(F.col("n") * F.exp(-m), 6).alias("poisson_expected_zeros"),
        F.round(F.col("n") * F.pow(k / (k + m), k), 6).alias(
            "negbin_expected_zeros"
        ),
        (v / m > 1).alias("overdispersed"),
    )


@query(
    "agg_lexis_ratio",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM events GROUP BY day
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS BIGINT) AS st
        FROM daily
    ),
    q AS (
        SELECT t.k, t.nt,
               CAST(t.st AS DOUBLE) / t.nt AS pbar,
               SUM(d.n * (CAST(d.s AS DOUBLE) / d.n - CAST(t.st AS DOUBLE)
                          / t.nt)
                       * (CAST(d.s AS DOUBLE) / d.n - CAST(t.st AS DOUBLE)
                          / t.nt)) AS chi_num
        FROM daily d CROSS JOIN tot t
        GROUP BY t.k, t.nt, t.st
    )
    SELECT k AS n_days, nt AS n_events,
           ROUND(pbar, 6) AS pooled_rate,
           ROUND(chi_num / ((k - 1) * pbar * (1 - pbar)), 6) AS lexis_q,
           ROUND(chi_num / (pbar * (1 - pbar)), 6) AS chi2_homogeneity,
           chi_num / ((k - 1) * pbar * (1 - pbar)) > 1 AS supranormal
    FROM q
    """,
)
def agg_lexis_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lexis ratio Q (Lexis 1877 — the ORIGINAL overdispersion
    statistic, predating chi-square; Q = Σn_i(p_i - p̄)² /
    ((k-1)·p̄(1-p̄)), public) for the daily purchase proportion: Q = 1
    is Bernoulli homogeneity (every day shares one purchase rate),
    Q > 1 is Lexis' 'supranormal dispersion' — day-to-day propensity
    actually moves. (k-1)·Q is exactly the chi-square homogeneity
    statistic, emitted alongside. The proportion-domain sibling of the
    count-domain dispersion pair (Fano / negbin rows).

    Determinism: daily n_i/s_i are exact integers; the quadratic form
    is one fixed chain over the calendar frame; the flag compares the
    unrounded ratio.

    Scale shape: one daily conditional collapse; the quadratic form is
    a second pass over the calendar-bounded frame with the pooled rate
    broadcast."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("s"),
        )
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    j = daily.crossJoin(F.broadcast(tot))
    pbar = F.col("st").cast("double") / F.col("nt")
    dev = F.col("s").cast("double") / F.col("n") - pbar
    q = j.groupBy("k", "nt", "st").agg(
        F.sum(F.col("n") * dev * dev).alias("chi_num")
    )
    pb = F.col("st").cast("double") / F.col("nt")
    lexis = F.col("chi_num") / ((F.col("k") - 1) * pb * (1 - pb))
    return q.select(
        F.col("k").alias("n_days"),
        F.col("nt").alias("n_events"),
        F.round(pb, 6).alias("pooled_rate"),
        F.round(lexis, 6).alias("lexis_q"),
        F.round(F.col("chi_num") / (pb * (1 - pb)), 6).alias(
            "chi2_homogeneity"
        ),
        (lexis > 1).alias("supranormal"),
    )
