"""Wave-162: exact-arithmetic inference — Fisher's exact test on integer
binomials, Cornish-Fisher moment quantiles, and the Durbin-Watson serial-
correlation statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Exact C(n,k) as a stepwise integer fold: every intermediate C(n,i) is an
# exact integer and each division is exact (C(n,i-1)*(n-k+i) is always
# divisible by i). Margins are bounded at 40, so intermediates stay under
# C(40,20)*40 ~ 5.5e12 — far inside BIGINT, identical in both engines.
# The k=0 guard matters: Spark's sequence(1, 0) steps DOWNWARD through 0
# (div-by-zero in the fold), where DuckDB's range(1, 1) is empty — C(n,0)=1
# is returned explicitly instead.
_BINOM_SPARK = (
    "IF(({k}) <= 0, CAST(1 AS BIGINT),"
    " aggregate(sequence(1, ({k})), CAST(1 AS BIGINT),"
    " (acc, i) -> CAST((acc * (({n}) - ({k}) + i)) DIV i AS BIGINT)))"
)
_BINOM_DUCK = (
    "list_reduce(list_prepend(CAST(1 AS BIGINT), range(1, ({k}) + 1)),"
    " (acc, i) -> (acc * (({n}) - ({k}) + i)) // i)"
)


@query(
    "agg_fisher_exact",
    oracle=f"""
    WITH t AS (
        SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 AND CAST(FLOOR(value) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN user_id % 2 = 0 AND CAST(FLOOR(value) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN user_id % 2 = 1 AND CAST(FLOOR(value) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN user_id % 2 = 1 AND CAST(FLOOR(value) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM events WHERE event_id <= 40
    ),
    m AS (
        SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1, a + b + c + d AS n
        FROM t
    ),
    obs AS (
        SELECT m.*,
               CAST({_BINOM_DUCK.format(n="r1", k="a")} AS HUGEINT)
                   * {_BINOM_DUCK.format(n="r2", k="c")} AS w_obs
        FROM m
    ),
    ks AS (
        SELECT obs.*, UNNEST(range(GREATEST(0, c1 - r2), LEAST(r1, c1) + 1)) AS k
        FROM obs
    ),
    ws AS (
        SELECT ks.*,
               CAST({_BINOM_DUCK.format(n="r1", k="k")} AS HUGEINT)
                   * {_BINOM_DUCK.format(n="r2", k="c1 - k")} AS w
        FROM ks
    )
    SELECT a, b, c, d, CAST(w_obs AS BIGINT) AS w_obs,
           ROUND(CAST(SUM(CASE WHEN w <= w_obs THEN w ELSE 0 END) AS DOUBLE)
                 / CAST({_BINOM_DUCK.format(n="n", k="c1")} AS DOUBLE), 8)
               AS p_two_sided,
           CAST(SUM(CASE WHEN w <= w_obs THEN w ELSE 0 END) AS DOUBLE)
               / CAST({_BINOM_DUCK.format(n="n", k="c1")} AS DOUBLE) < 0.05
               AS significant
    FROM ws GROUP BY a, b, c, d, w_obs, r1, r2, c1, n
    """,
)
def agg_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (Fisher 1935, public) on a 2x2 table — cohort
    (user parity) x outcome (floor(value) parity) over a bounded deterministic
    subsample (event_id <= 40; exact tests are for SMALL tables — large
    ones use the chi-square family already in the engine).

    EXACT rational arithmetic end to end: the hypergeometric weight of
    table k is w(k) = C(r1,k)*C(r2,c1-k) (integers via the stepwise
    binomial fold, products in DECIMAL(38)/HUGEINT), the two-sided
    p-value is (sum of w(k) over tables no more likely than observed) /
    C(n,c1) — ONE double division at the very end. No logs, no gamma, no
    float summation anywhere, so the usual cross-engine libm/fold-order
    hazards of p-value code are structurally absent.

    Scale shape: one filtered aggregation builds the table; the k-sweep
    is a bounded literal sequence on a single row."""
    e = table(spark, sf_dir, "events").where(F.col("event_id") <= 40)
    t = e.agg(
        F.sum(((F.col("user_id") % 2 == 0) & (F.floor("value").cast("long") % 2 == 0)).cast("long")).alias("a"),
        F.sum(((F.col("user_id") % 2 == 0) & (F.floor("value").cast("long") % 2 == 1)).cast("long")).alias("b"),
        F.sum(((F.col("user_id") % 2 == 1) & (F.floor("value").cast("long") % 2 == 0)).cast("long")).alias("c"),
        F.sum(((F.col("user_id") % 2 == 1) & (F.floor("value").cast("long") % 2 == 1)).cast("long")).alias("d"),
    )
    m = t.select(
        "a", "b", "c", "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )
    obs = m.withColumn(
        "w_obs",
        F.expr(
            f"CAST({_BINOM_SPARK.format(n='r1', k='a')} AS DECIMAL(38,0))"
            f" * {_BINOM_SPARK.format(n='r2', k='c')}"
        ),
    )
    ks = obs.select(
        "*",
        F.explode(
            F.expr("sequence(GREATEST(0L, c1 - r2), LEAST(r1, c1))")
        ).alias("k"),
    )
    ws = ks.withColumn(
        "w",
        F.expr(
            f"CAST({_BINOM_SPARK.format(n='r1', k='k')} AS DECIMAL(38,0))"
            f" * {_BINOM_SPARK.format(n='r2', k='c1 - k')}"
        ),
    )
    denom = F.expr(_BINOM_SPARK.format(n="n", k="c1")).cast("double")
    num = F.sum(F.when(F.col("w") <= F.col("w_obs"), F.col("w")).otherwise(F.lit(0)))
    return (
        ws.groupBy("a", "b", "c", "d", "w_obs", "r1", "r2", "c1", "n")
        .agg(num.alias("num"))
        .select(
            "a", "b", "c", "d",
            F.col("w_obs").cast("long").alias("w_obs"),
            F.round(F.col("num").cast("double") / denom, 8).alias("p_two_sided"),
            (F.col("num").cast("double") / denom < 0.05).alias("significant"),
        )
    )


@query(
    "agg_cornish_fisher",
    oracle="""
    WITH mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mu,
               STDDEV_POP(value) AS sd,
               SKEWNESS(value) * (COUNT(*) - 2) * 1e0
                   / SQRT(COUNT(*) * (COUNT(*) - 1e0)) AS skew_pop
        FROM events GROUP BY event_type
    ),
    cf AS (
        SELECT event_type, n, mu, sd, skew_pop,
               1.2815515655446004 AS z90
        FROM mom
    )
    SELECT event_type, n,
           ROUND(mu + sd * (z90 + (z90 * z90 - 1) * skew_pop / 6), 6)
               AS cf_p90,
           ROUND((SELECT QUANTILE_CONT(value, 0.9)
                  FROM events e2 WHERE e2.event_type = cf.event_type), 6)
               AS exact_p90
    FROM cf
    """,
)
def agg_cornish_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cornish-Fisher quantile expansion (Cornish & Fisher 1938, public),
    first skewness correction term: q_p ≈ μ + σ·(z_p + (z_p²−1)·γ₁/6).
    Estimates a distribution's p90 from three MOMENTS — the path that
    needs only algebraic aggregates (one map-side-combinable pass) where
    an exact percentile needs the full per-group value multiset. The
    exact p90 is emitted alongside so the approximation error is part of
    the hash-checked output.

    Moment parity: Spark's `skewness` is the POPULATION g1 = m3/m2^1.5;
    DuckDB's SKEWNESS is the SAMPLE G1 = g1·√(n(n−1))/(n−2) — the oracle
    converts DuckDB's to population form so both engines feed the same γ₁
    into the expansion (then ROUND 6 absorbs fold-order ulps, the
    agg_stats precedent).

    Scale shape: moments are algebraic partial aggregates; the exact-p90
    comparison column is the one non-mergeable part (kept because the
    error audit is the point here)."""
    e = table(spark, sf_dir, "events")
    z90 = 1.2815515655446004
    mom = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sd"),
        F.skewness("value").alias("skew_pop"),
        F.percentile(F.col("value"), F.lit(0.9)).alias("exact_p90_raw"),
    )
    cf = F.col("mu") + F.col("sd") * (
        F.lit(z90) + (F.lit(z90) * z90 - 1) * F.col("skew_pop") / 6
    )
    return mom.select(
        "event_type",
        "n",
        F.round(cf, 6).alias("cf_p90"),
        F.round(F.col("exact_p90_raw"), 6).alias("exact_p90"),
    )


@query(
    "agg_durbin_watson",
    oracle="""
    WITH s AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS t
        FROM events
    ),
    fit AS (
        SELECT event_type,
               REGR_SLOPE(value, t) AS b1, REGR_INTERCEPT(value, t) AS b0
        FROM s GROUP BY event_type
    ),
    resid AS (
        SELECT s.event_type, s.t,
               s.value - (f.b0 + f.b1 * s.t) AS e
        FROM s JOIN fit f ON f.event_type = s.event_type
    ),
    lagged AS (
        SELECT event_type, e,
               LAG(e) OVER (PARTITION BY event_type ORDER BY t) AS ep
        FROM resid
    )
    SELECT event_type,
           ROUND(SUM(CASE WHEN ep IS NULL THEN 0 ELSE (e - ep) * (e - ep) END)
                 / SUM(e * e), 6) AS dw
    FROM lagged GROUP BY event_type
    """,
)
def agg_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic (Durbin & Watson 1950, public) on the
    residuals of a per-type linear trend fit: DW = Σ(e_t−e_{t−1})²/Σe_t²
    — ~2 means no serial correlation, →0 positive, →4 negative. The
    standard first screen for "is this time series' trend fit hiding
    autocorrelated errors" before reaching for AR models.

    Determinism: fit via closed-form regr_* aggregates; residual order is
    total (ts, event_id); one ROUND 6 at the end.

    Scale shape: two passes — algebraic fit moments, then a per-type
    ordered window for the lag; both partition on event_type."""
    e = table(spark, sf_dir, "events")
    w_t = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type", "value", F.row_number().over(w_t).alias("t")
    )
    fit = s.groupBy("event_type").agg(
        F.regr_slope("value", "t").alias("b1"),
        F.regr_intercept("value", "t").alias("b0"),
    )
    resid = s.join(fit, "event_type").select(
        "event_type",
        "t",
        (F.col("value") - (F.col("b0") + F.col("b1") * F.col("t"))).alias("e"),
    )
    w_lag = Window.partitionBy("event_type").orderBy("t")
    lagged = resid.select(
        "event_type", "e", F.lag("e").over(w_lag).alias("ep")
    )
    num = F.sum(
        F.when(F.col("ep").isNull(), F.lit(0.0)).otherwise(
            (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
        )
    )
    return lagged.groupBy("event_type").agg(
        F.round(num / F.sum(F.col("e") * F.col("e")), 6).alias("dw")
    )
